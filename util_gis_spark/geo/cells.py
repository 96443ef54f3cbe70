"""Hierarchical quadkey cell index (H3/S2-style) over lon/lat.

The distributed replacement for the reference's in-memory STRtree
(GisUtil G:5736-5936, G:13722): an equi-join on cell ids is the
set-oriented form of the reference's envelope query. The index is a
plain equirectangular quadtree — at resolution r the world splits into
2^r x 2^r cells; a cell id packs (res, ix, iy) into one int64:

    id = res * 2^54 + ix * 2^27 + iy          (res <= 20 => ix, iy < 2^27)

Chosen over Morton interleaving deliberately: encode/decode is pure
floor arithmetic, so the SAME formula is expressible as a Spark Column
expression (JVM-side, codegen), as ANSI SQL for the DuckDB oracle, and
as numpy — the three implementations are kept in this one module so
they cannot drift. Hierarchy: parent = (res-1, ix>>1, iy>>1); a
bbox cover is the ix/iy rectangle of cells. At 10^12-row scale the
table is range/hash-partitioned on this id; resolution picks the
join fan-out (docs in SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 2**54
IX_SHIFT = 2**27
MAX_RES = 20
# ~ meters per cell east-west at lat 40 for reference: res 12 -> ~7 km,
# res 14 -> ~1.8 km, res 16 -> ~430 m, res 18 -> ~110 m.
DEFAULT_RES = 14


def _nx(res: int) -> int:
    return 1 << res


def lon_ix_expr(lon: Column, res: int) -> Column:
    """Clamped east-west cell index as a Column — the ONE definition of
    the clamp; the kNN ladder and tile cover must use this, not a
    hand-copied variant (r5 review: four inline copies had grown in
    joins.py against this module's anti-drift contract). NULL/NaN
    input yields a NULL index (r6, ADVICE r5 #2): least/greatest are
    null-SKIPPING in both engines, so without the guard a dirty
    coordinate collapsed onto the max index — every caller of the
    clamp gets the same joins-nothing degradation cell_expr has, not
    just cell_expr itself."""
    n = float(_nx(res))
    ix = F.least(F.floor((lon + 180.0) / 360.0 * n), F.lit(n - 1)).cast("long")
    ix = F.greatest(ix, F.lit(0).cast("long"))
    # abs(x)=inf catches what isnan misses: floor(inf) is inf, so an
    # infinite coordinate sailed through least/greatest onto a corner
    # index while the numpy twin (isfinite) yielded -1 — the r6 review
    # of this module caught the three-forms drift the NaN guard left
    return F.when(
        lon.isNull() | F.isnan(lon) | (F.abs(lon) == F.lit(float("inf"))),
        F.lit(None).cast("long"),
    ).otherwise(ix)


def lat_iy_expr(lat: Column, res: int) -> Column:
    """Clamped north-south cell index as a Column (same NULL/NaN
    guard as lon_ix_expr)."""
    n = float(_nx(res))
    iy = F.least(F.floor((lat + 90.0) / 180.0 * n), F.lit(n - 1)).cast("long")
    iy = F.greatest(iy, F.lit(0).cast("long"))
    return F.when(
        lat.isNull() | F.isnan(lat) | (F.abs(lat) == F.lit(float("inf"))),
        F.lit(None).cast("long"),
    ).otherwise(iy)


def pack_expr(res: int, ix: Column, iy: Column) -> Column:
    """Pack (res, ix, iy) into the int64 cell/tile id (Column form)."""
    return F.lit(res).cast("long") * F.lit(RES_SHIFT) + ix * F.lit(IX_SHIFT) + iy


def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Cell id as a pure Column expression (no UDF). NULL/NaN
    coordinates yield a NULL cell (joins nothing): the guard lives in
    lon_ix_expr/lat_iy_expr (r6, ADVICE r5 #2 — one definition for
    every caller), and a NULL index propagates NULL through the pack
    arithmetic — least/greatest alone are null-SKIPPING in both
    engines, which is why the unguarded clamp collapsed dirty rows
    onto the valid corner cell (r5 review: spurious join candidates +
    skew on one corner cell)."""
    return pack_expr(res, lon_ix_expr(lon, res), lat_iy_expr(lat, res)).alias("cell")


def cell_sql(lon: str, lat: str, res: int) -> str:
    """Identical formula as ANSI SQL (DuckDB oracle), incl. the
    NULL/NaN guard."""
    n = float(_nx(res))
    ix = f"greatest(least(cast(floor((({lon})+180.0)/360.0*{n}) as bigint), {int(n) - 1}), 0)"
    iy = f"greatest(least(cast(floor((({lat})+90.0)/180.0*{n}) as bigint), {int(n) - 1}), 0)"
    return (
        f"(CASE WHEN ({lon}) IS NULL OR ({lat}) IS NULL OR isnan({lon}) OR isnan({lat})"
        f" OR isinf({lon}) OR isinf({lat})"
        f" THEN NULL ELSE cast({res} as bigint)*{RES_SHIFT} + {ix}*{IX_SHIFT} + {iy} END)"
    )


def np_cell(lon, lat, res: int) -> np.ndarray:
    """numpy twin; non-finite coordinates yield -1 (no valid cell id is
    negative, so like the Column form's NULL they join nothing)."""
    n = _nx(res)
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    ix = np.clip(np.floor(np.where(bad, 0.0, (lon + 180.0) / 360.0 * n)), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor(np.where(bad, 0.0, (lat + 90.0) / 180.0 * n)), 0, n - 1).astype(np.int64)
    return np.where(bad, np.int64(-1), np.int64(res) * RES_SHIFT + ix * IX_SHIFT + iy)


def np_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // RES_SHIFT
    rem = cell % RES_SHIFT
    return res.astype(np.int64), (rem // IX_SHIFT).astype(np.int64), (rem % IX_SHIFT).astype(np.int64)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    res, ix, iy = (int(v) for v in np_decode(np.int64(cell)))
    n = _nx(res)
    w, h = 360.0 / n, 180.0 / n
    return -180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h


def parent(cell, steps: int = 1) -> np.ndarray:
    res, ix, iy = np_decode(cell)
    r2 = np.maximum(res - steps, 0)
    return r2 * RES_SHIFT + (ix >> steps) * IX_SHIFT + (iy >> steps)


def neighbors(cell: int, ring: int = 1) -> np.ndarray:
    """All cells within `ring` steps (Chebyshev) incl. the cell itself,
    with east-west wraparound; used by the kNN ring expansion."""
    res, ix, iy = (int(v) for v in np_decode(np.int64(cell)))
    n = _nx(res)
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            jy = iy + dy
            if jy < 0 or jy >= n:
                continue
            jx = (ix + dx) % n
            out.append(res * RES_SHIFT + jx * IX_SHIFT + jy)
    return np.array(sorted(set(out)), dtype=np.int64)


def cover_bbox(lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int) -> np.ndarray:
    """All cells intersecting the bbox — the raster<->vector tiling
    primitive: a polygon's covering cell set is cover_bbox of its
    envelope (coarse) refined by exact intersection where needed."""
    n = _nx(res)
    if not all(map(np.isfinite, (lon_min, lat_min, lon_max, lat_max))):
        return np.empty(0, dtype=np.int64)
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n), 0, n - 1))
    if lon_min > lon_max:
        # antimeridian-crossing bbox: two east-west ranges (r5 review:
        # arange(ix0, ix1+1) was silently EMPTY, excluding every point
        # of a dateline-straddling polygon from the join)
        ixs = np.concatenate(
            [np.arange(ix0, n, dtype=np.int64), np.arange(0, ix1 + 1, dtype=np.int64)]
        )
    else:
        ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys, indexing="ij")
    return (np.int64(res) * RES_SHIFT + gx.ravel() * IX_SHIFT + gy.ravel()).astype(np.int64)


# ------------------------------------------------ batched cell classifier
# Supercover slack in cell units: far above the few ulps a point's or an
# interpolated crossing's cell coordinate can be off (~1e-9 at res 20).
_PAD = 1e-7
# Rows of one classify_cells work unit (cover cells + lattice-row
# crossings): polygons batch up to it, a larger polygon is tiled.
CLASSIFY_MAX_ROWS = 1 << 18


def _expand(counts) -> tuple[np.ndarray, np.ndarray]:
    """(owner, rank within owner) of sum(counts) rows, counts[k] per owner."""
    counts = np.asarray(counts, dtype=np.int64)
    owner = np.repeat(np.arange(len(counts)), counts)
    return owner, np.arange(len(owner)) - (np.cumsum(counts) - counts)[owner]


def _floor_clip(f, n: int) -> np.ndarray:
    return np.clip(np.floor(f), 0, n - 1).astype(np.int64)


def _lattice_ge(v, base: float, step: float, n: int) -> np.ndarray:
    """Smallest j with base + j*step >= v on the exact lattice values
    (a floored guess, corrected by exact comparisons)."""
    with np.errstate(over="ignore", invalid="ignore"):
        j = np.floor(np.clip(np.nan_to_num((v - base) / step), -2.0, n + 2.0)).astype(np.int64)
    j -= base + (j - 1) * step >= v
    j += base + j * step < v
    return j + (base + j * step < v)


def _supercover(x1, y1, x2, y2, n: int, c_lo, c_hi, r_lo, r_hi):
    """(edge, ix, iy) of every cell within [c_lo, c_hi] x [r_lo, r_hi]
    that a point of the edge can land in under cell_expr. Columns and
    the row extent are the endpoints' clamped floors (exact: the cell
    formula is monotone); per column, rows span the edge's y over the
    column strip, both padded by _PAD. An out-of-domain endpoint covers
    the clamped bbox (clamped points leave the segment); a non-finite
    one covers nothing."""
    ok = np.isfinite(x1) & np.isfinite(y1) & np.isfinite(x2) & np.isfinite(y2)
    inb = ok & (np.abs(x1) <= 180.0) & (np.abs(x2) <= 180.0)
    inb &= (np.abs(y1) <= 90.0) & (np.abs(y2) <= 90.0)
    with np.errstate(over="ignore", invalid="ignore"):
        fx1, fx2 = ((np.where(ok, v, 0.0) + 180.0) / 360.0 * n for v in (x1, x2))
        fy1, fy2 = ((np.where(ok, v, 0.0) + 90.0) / 180.0 * n for v in (y1, y2))
    fxa, fxb = np.minimum(fx1, fx2), np.maximum(fx1, fx2)
    fya, fyb = np.minimum(fy1, fy2), np.maximum(fy1, fy2)
    c0, c1 = np.maximum(_floor_clip(fxa, n), c_lo), np.minimum(_floor_clip(fxb, n), c_hi)
    r0, r1 = np.maximum(_floor_clip(fya, n), r_lo), np.minimum(_floor_clip(fyb, n), r_hi)
    e, k = _expand(np.where(ok & (r0 <= r1), np.maximum(c1 - c0 + 1, 0), 0))
    col = c0[e] + k
    with np.errstate(divide="ignore", over="ignore", invalid="ignore"):
        slope = (fy2 - fy1)[e] / (fx2 - fx1)[e]
        ya = fy1[e] + (np.maximum(col - _PAD, fxa[e]) - fx1[e]) * slope
        yb = fy1[e] + (np.minimum(col + 1 + _PAD, fxb[e]) - fx1[e]) * slope
    slant = np.isfinite(ya) & np.isfinite(yb) & inb[e]  # else vertical: the full extent
    lo = np.where(slant, np.clip(np.floor(np.minimum(ya, yb) - _PAD), r0[e], r1[e] + 1), r0[e])
    hi = np.where(slant, np.clip(np.floor(np.maximum(ya, yb) + _PAD), r0[e] - 1, r1[e]), r1[e])
    lo, hi = lo.astype(np.int64), hi.astype(np.int64)
    q, k = _expand(np.maximum(hi - lo + 1, 0))
    return e[q], col[q], lo[q] + k


def edge_cells(x1, y1, x2, y2, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(edge index, cell id) of every cell a point of each edge can
    fall in: the conservative supercover marking boundary cells."""
    n = _nx(res)
    x1, y1, x2, y2 = (np.atleast_1d(np.asarray(v, dtype=np.float64)) for v in (x1, y1, x2, y2))
    e, ix, iy = _supercover(x1, y1, x2, y2, n, 0, n - 1, 0, n - 1)
    return e, np.int64(res) * RES_SHIFT + ix * IX_SHIFT + iy


def _work_units(polys, ix0, nx, iy0, ny, load, cap: int):
    """Lists of (poly, ix0, nx, iy0, ny) blocks of at most ~cap rows:
    runs of whole covers, or tiles of one polygon too large for cap
    (full-height column slabs unless its crossings need lower tiles)."""
    tasks, acc = [], 0
    for p, x, w, y, h, c in zip(polys, ix0, nx, iy0, ny, load):
        size = w * h + c
        if tasks and acc + size > cap:
            yield tasks
            tasks, acc = [], 0
        if size <= cap:
            tasks.append((p, x, w, y, h))
            acc += size
            continue
        bh = min(h if c <= cap // 2 else max(1, h * (cap // 2) // c), max(1, cap // 2))
        bw = max(1, cap // 2 // bh)
        for a in range(0, w, bw):
            for b in range(0, h, bh):
                yield [(p, x + a, min(bw, w - a), y + b, min(bh, h - b))]
    if tasks:
        yield tasks


def _classify_tasks(tasks, edges, e_off, res: int):
    n = _nx(res)
    w, h = 360.0 / n, 180.0 / n
    t_poly, tx0, tnx, ty0, tny = (np.array(c, dtype=np.int64) for c in zip(*tasks))
    tx1, ty1, lw = tx0 + tnx, ty0 + tny, tnx + 1
    ct, k = _expand(tnx * tny)  # block covers, ix-major like cover_bbox
    cix, ciy = tx0[ct] + k // tny[ct], ty0[ct] + k % tny[ct]
    et, k = _expand(e_off[t_poly + 1] - e_off[t_poly])  # each block's polygon edges
    eix = e_off[t_poly][et] + k
    x1, y1, x2, y2, part = edges.x1[eix], edges.y1[eix], edges.x2[eix], edges.y2[eix], edges.part[eix]
    l_off = np.cumsum(lw * (tny + 1)) - lw * (tny + 1)  # corner lattices, row-major

    def lpos(t, i, j):
        return l_off[t] + (j - ty0[t]) * lw[t] + i - tx0[t]

    # 1. cells an edge can touch, over the block grown by one column and
    # row: every lattice point on an edge is then a corner of a pair's cell
    pe, pix, piy = _supercover(x1, y1, x2, y2, n, tx0[et], tx1[et], ty0[et], ty1[et])
    pt = et[pe]
    own = (pix < tx1[pt]) & (piy < ty1[pt])
    c_off = np.cumsum(tnx * tny) - tnx * tny
    is_edge = np.zeros(len(ct), dtype=bool)
    is_edge[(c_off[pt] + (pix - tx0[pt]) * tny[pt] + piy - ty0[pt])[own]] = True

    # 2. ray-cast parity per part, OR-ed across parts (raycast_inside_expr):
    # per lattice row, the sorted x-intercepts of a part's crossing edges
    # (the refine's rule and float expression) pair up into [a, b) runs
    # of odd parity; a difference array counts the runs over each point
    j0 = np.maximum(_lattice_ge(np.minimum(y1, y2), -90.0, h, n), ty0[et])
    j1 = np.minimum(_lattice_ge(np.maximum(y1, y2), -90.0, h, n) - 1, ty1[et])
    q, k = _expand(np.maximum(j1 - j0 + 1, 0))
    xt, xj = et[q], j0[q] + k
    with np.errstate(over="ignore", invalid="ignore"):
        xint = x1[q] + (-90.0 + xj * h - y1[q]) * (x2[q] - x1[q]) / (y2[q] - y1[q])
    bad = np.bincount(xt[~np.isfinite(xint)], minlength=len(tasks)) > 0  # overflow: no accept
    g = lpos(xt, tx0[xt], xj)  # row key: the row's first lattice point
    order = np.lexsort((xint, part[q], g))
    xs, gs, ps, rt, rj = xint[order], g[order], part[q][order], xt[order][0::2], xj[order][0::2]
    i_a = np.maximum(_lattice_ge(xs[0::2], -180.0, w, n), tx0[rt])
    i_b = np.minimum(_lattice_ge(xs[1::2], -180.0, w, n) - 1, tx1[rt])
    run = i_a <= i_b
    n_lat = int(l_off[-1] + lw[-1] * (tny[-1] + 1))
    diff = np.bincount(lpos(rt, i_a, rj)[run], minlength=n_lat + 1)
    diff -= np.bincount(lpos(rt, i_b, rj)[run] + 1, minlength=n_lat + 1)
    corner_in = np.cumsum(diff[:n_lat]) > 0

    # 3. a lattice point ON an edge (the refine's exact zero-cross test)
    # is not strictly inside that edge's part: redo those few exactly
    ci, cj, cq = np.r_[pix, pix + 1, pix, pix + 1], np.r_[piy, piy, piy + 1, piy + 1], np.tile(pe, 4)
    keep = (ci <= tx1[et[cq]]) & (cj <= ty1[et[cq]])
    ci, cj, cq = ci[keep], cj[keep], cq[keep]
    px, py, ex1, ey1, ex2, ey2 = -180.0 + ci * w, -90.0 + cj * h, x1[cq], y1[cq], x2[cq], y2[cq]
    on = (ex2 - ex1) * (py - ey1) - (ey2 - ey1) * (px - ex1) == 0.0
    on &= (px >= np.minimum(ex1, ex2)) & (px <= np.maximum(ex1, ex2))
    on &= (py >= np.minimum(ey1, ey2)) & (py <= np.maximum(ey1, ey2))
    if on.any():
        fpos = lpos(et[cq[on]], ci[on], cj[on])
        u, first, inv = np.unique(fpos, return_index=True, return_inverse=True)
        ut = et[cq[on]][first]
        ug = lpos(ut, tx0[ut], cj[on][first])
        lo = np.searchsorted(gs, ug, "left")
        uu, k = _expand(np.searchsorted(gs, ug, "right") - lo)
        npart = len(edges.part_poly) + 1
        hit = px[on][first][uu] < xs[lo[uu] + k]
        keys, cnt = np.unique((uu * npart + ps[lo[uu] + k])[hit], return_counts=True)
        strict = np.setdiff1d(keys[cnt % 2 == 1], inv * npart + part[cq[on]])
        corner_in[u] = np.isin(np.arange(len(u)), strict // npart)

    # 4. inside: no edge can touch the cell and its 4 corners are strictly inside
    b = lpos(ct, cix, ciy)
    inside = ~is_edge & ~bad[ct] & corner_in[b] & corner_in[b + 1]
    inside &= corner_in[b + lw[ct]] & corner_in[b + lw[ct] + 1]
    return t_poly[ct], np.int64(res) * RES_SHIFT + cix * IX_SHIFT + ciy, inside


def classify_cell_chunks(parsed_list, res: int, edges=None):
    """(poly_ix, cell, inside) arrays, one per work unit of at most
    ~CLASSIFY_MAX_ROWS rows, for every cell covering the envelope of
    each parse_wkt result (`poly_ix` indexes `parsed_list`). A cell is
    inside iff no ring edge can touch it (conservative supercover) and
    its 4 corners are strictly inside under the refine's semantics:
    then every point it holds is inside and the joins accept it with no
    exact test. Every other covering cell is boundary; an error can
    only move a cell from inside to boundary (speed, not correctness).
    `edges` is flat_edges(parsed_list), when the caller has it."""
    from .geometry import flat_edges, geom_envelope

    edges = flat_edges(parsed_list) if edges is None else edges
    n, m = _nx(res), len(parsed_list)
    env = np.array([geom_envelope(p) or (np.nan,) * 4 for p in parsed_list] or np.empty((0, 4)))
    has = np.isfinite(env).all(axis=1)
    with np.errstate(over="ignore", invalid="ignore"):
        fx = (np.where(has[:, None], env[:, 0::2], 0.0) + 180.0) / 360.0 * n
        fy = (np.where(has[:, None], env[:, 1::2], 0.0) + 90.0) / 180.0 * n
        fe = (np.stack([edges.y1, edges.y2]) + 90.0) / 180.0 * n
    ix0, iy0 = _floor_clip(fx[:, 0], n), _floor_clip(fy[:, 0], n)
    nx, ny = _floor_clip(fx[:, 1], n) - ix0 + 1, _floor_clip(fy[:, 1], n) - iy0 + 1
    # lattice-row crossings per polygon, the other large array
    span = _floor_clip(fe.max(axis=0), n) - _floor_clip(fe.min(axis=0), n) + 2
    load = np.bincount(edges.poly, weights=span, minlength=m).astype(np.int64)
    e_off = np.searchsorted(edges.poly, np.arange(m + 1))
    cols = (a[has].tolist() for a in (np.arange(m), ix0, nx, iy0, ny, load))
    for tasks in _work_units(*cols, CLASSIFY_MAX_ROWS):
        yield _classify_tasks(tasks, edges, e_off, res)


def classify_cells(parsed_list, res: int, edges=None):
    """classify_cell_chunks, concatenated."""
    chunks = list(classify_cell_chunks(parsed_list, res, edges))
    if not chunks:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool)
    return tuple(np.concatenate(c) for c in zip(*chunks))
