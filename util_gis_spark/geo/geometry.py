"""Minimal pure-numpy vector geometry: WKT, point-in-polygon, area,
segment distance, Douglas-Peucker. No GEOS in this environment — these
kernels power the refine phase of the spatial joins and the geometry
UDFs. Semantics follow the reference (GisUtil):

- WKT is the wire format for polygons in & out (G:11402, G:11829).
- `contains` is strict-interior (boundary excluded), matching JTS
  Geometry.contains used at G:5916 / G:11197-11216.
- 4-D array export double[geom][ring][point][2] (G:10649-10809).
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np

# ------------------------------------------------------------------- WKT
# leading-dot numerals (".5", "-.5") are valid per the OGC/SQL numeric
# grammar (PostGIS emits-accepts them); requiring a digit before the
# dot made the pair-scanner silently re-pair digits into WRONG
# coordinates instead of degrading (r4 review)
_NUM = r"[-+]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][-+]?\d+)?"
_NUM_FULL_RE = re.compile(rf"^{_NUM}$")


def _parse_ring(text: str) -> np.ndarray:
    """Comma-split coordinate list -> (N, 2). STRICT per pair: every
    comma-separated element must be exactly two WKT numerals (parens
    tolerated for MULTIPOINT's per-point form), else ValueError — so
    parse_wkt degrades to EMPTY like the reference's throw-to-
    EMPTY_GEOMETRY contract (G:11353-11358). The earlier findall
    scanner silently DROPPED unparseable tokens, which let malformed
    input through as a truncated ring instead of repairing to EMPTY
    (and 'nan'/'inf' are rejected by the numeral grammar, which
    plain float() would accept)."""
    pts = []
    for part in text.split(","):
        toks = part.strip().strip("()").split()
        if len(toks) != 2 or not all(_NUM_FULL_RE.match(t) for t in toks):
            raise ValueError(f"bad WKT coordinate pair: {part.strip()!r}")
        pts.append([float(toks[0]), float(toks[1])])
    return np.array(pts, dtype=np.float64)


def geom_polys(parsed) -> list:
    """Polygonal parts of a parse_wkt result as a list of ring lists
    (POLYGON -> [rings]; MULTIPOLYGON -> its parts; collections ->
    their polygonal members, recursively). The ONE flattener — joins'
    PIP classification and geometry_ops' intersection/union both
    import it (r6 review: two identical copies had grown and could
    drift)."""
    typ, data = parsed
    if typ == "POLYGON":
        return [data]
    if typ == "MULTIPOLYGON":
        return list(data)
    if typ == "GEOMETRYCOLLECTION":
        out = []
        for sub in data:
            out.extend(geom_polys(sub))
        return out
    return []


class EdgeTable(NamedTuple):
    """Flat ring-edge table of a batch of geometries (see flat_edges)."""

    poly: np.ndarray  # geometry index of each edge
    part: np.ndarray  # batch-wide polygonal part id of each edge
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    part_poly: np.ndarray  # geometry index of each part id


def flat_edges(parsed_list) -> EdgeTable:
    """Every polygonal ring edge of a batch of parse_wkt results as ONE
    flat table, ordered by geometry, part, ring, vertex. Rings are
    closed as the ray casts read them; a ring of < 2 points has no edge
    and a part without edges no part id. The ray cast ORs per-part
    even-odd parity (union semantics for overlapping parts)."""
    rings, ring_part, part_poly = [], [], []
    for g, parsed in enumerate(parsed_list):
        for part_rings in geom_polys(parsed):
            kept = [r for r in part_rings if len(r) >= 2]
            if kept:
                rings.extend(kept)
                ring_part.extend([len(part_poly)] * len(kept))
                part_poly.append(g)
    part_poly = np.asarray(part_poly, dtype=np.int64)
    if not rings:
        f = np.empty(0, dtype=np.float64)
        return EdgeTable(np.empty(0, np.int64), np.empty(0, np.int64), f, f, f, f, part_poly)
    lens = np.fromiter(map(len, rings), np.int64, len(rings))
    pts = np.concatenate(rings).astype(np.float64, copy=False)
    start = np.cumsum(lens) - lens
    closed = (pts[start] == pts[start + lens - 1]).all(axis=1)
    n_e = lens - closed
    ring = np.repeat(np.arange(len(rings)), n_e)
    t = np.arange(int(n_e.sum())) - np.repeat(np.cumsum(n_e) - n_e, n_e)
    a = start[ring] + t
    b = np.where(t + 1 < lens[ring], a + 1, start[ring])
    part = np.asarray(ring_part, dtype=np.int64)[ring]
    return EdgeTable(
        part_poly[part], part, pts[a, 0], pts[a, 1], pts[b, 0], pts[b, 1], part_poly
    )


def edges_arrow(edges: EdgeTable, n_polys: int):
    """Each of `n_polys` geometries' ray-cast payload (joins.EDGES_TYPE)
    as ONE Arrow array built from flat_edges offsets; callers `take`
    rows. Not in joins, so that Arrow workers never import pandas."""
    import pyarrow as pa

    coords = pa.StructArray.from_arrays(
        [pa.array(edges.x1), pa.array(edges.y1), pa.array(edges.x2), pa.array(edges.y2)],
        names=["x1", "y1", "x2", "y2"],
    )

    def offsets(owner, n):
        return pa.array(np.concatenate([[0], np.cumsum(np.bincount(owner, minlength=n))]), pa.int32())

    parts = pa.ListArray.from_arrays(offsets(edges.part, len(edges.part_poly)), coords)
    return pa.ListArray.from_arrays(offsets(edges.part_poly, n_polys), parts)


def _parse_paren_ring(part: str) -> np.ndarray:
    """A POLYGON/MULTILINESTRING ring element must itself be
    parenthesized: 'POLYGON (0 0, 10 0, ...)' without inner parens
    previously parsed as one 1-point ring per pair and flowed through
    as silently-wrong containment instead of degrading to EMPTY
    (r6 review)."""
    p = part.strip()
    if not (p.startswith("(") and p.endswith(")")):
        raise ValueError(f"WKT ring not parenthesized: {p[:40]!r}")
    return _parse_ring(p[1:-1])


def _split_top_level(body: str) -> list[str]:
    """Split a parenthesized list body on top-level commas."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return parts


def parse_wkt(wkt: str):
    """Parse WKT -> (type, data).

    POINT -> (1,2) array; LINESTRING -> (N,2); POLYGON -> [rings];
    MULTIPOLYGON -> [[rings], ...]; GEOMETRYCOLLECTION -> list of
    (type, data). Empty/invalid -> ("EMPTY", None), mirroring the
    reference's degrade-to-EMPTY_GEOMETRY contract (G:11353-11358).
    """
    if not wkt:
        return "EMPTY", None
    s = wkt.strip()
    m = re.match(r"^\s*([A-Za-z]+)\s*(.*)$", s, re.S)
    if not m:
        return "EMPTY", None
    typ = m.group(1).upper()
    rest = m.group(2).strip()
    if rest.upper().startswith("EMPTY") or not rest:
        return "EMPTY", None
    if not (rest.startswith("(") and rest.endswith(")")):
        return "EMPTY", None
    body = rest[1:-1]
    try:
        if typ == "POINT":
            pts = _parse_ring(body)
            if len(pts) != 1:
                # 'POINT (1 2, 3 4)' previously flowed through as
                # (1, 2), silently dropping the extra pair (r6 review)
                raise ValueError("POINT body must be exactly one pair")
            return typ, pts[0]
        if typ in ("LINESTRING", "MULTIPOINT"):
            return typ, _parse_ring(body)
        if typ == "POLYGON":
            return typ, [_parse_paren_ring(r) for r in _split_top_level(body)]
        if typ == "MULTILINESTRING":
            return typ, [_parse_paren_ring(r) for r in _split_top_level(body)]
        if typ == "MULTIPOLYGON":
            polys = []
            for poly in _split_top_level(body):
                inner = poly.strip()
                if not (inner.startswith("(") and inner.endswith(")")):
                    raise ValueError("MULTIPOLYGON part not parenthesized")
                polys.append(
                    [_parse_paren_ring(r) for r in _split_top_level(inner[1:-1])]
                )
            return typ, polys
        if typ == "GEOMETRYCOLLECTION":
            return typ, [parse_wkt(g.strip()) for g in _split_top_level(body)]
    except (ValueError, IndexError):
        return "EMPTY", None
    return "EMPTY", None


def _fmt(v: float) -> str:
    return repr(float(v))


def ring_wkt(ring: np.ndarray) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")"


def polygon_wkt(rings: list[np.ndarray]) -> str:
    return "POLYGON (" + ", ".join(ring_wkt(r) for r in rings) + ")"


def multipolygon_wkt(polys: list[list[np.ndarray]]) -> str:
    if not polys:
        return "MULTIPOLYGON EMPTY"
    return "MULTIPOLYGON (" + ", ".join("(" + ", ".join(ring_wkt(r) for r in p) + ")" for p in polys) + ")"


def close_ring(ring: np.ndarray) -> np.ndarray:
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        return np.vstack([ring, ring[:1]])
    return ring


def wkt_to_4d_array(wkt: str) -> list:
    """double[geom][ring][point][2] export for all OGC types
    (G:10649-10809). Points/lines become single-ring geoms."""
    return wkt_to_4d_array_from_parsed(parse_wkt(wkt))


def wkt_to_4d_array_from_parsed(parsed) -> list:
    typ, data = parsed
    if typ == "EMPTY":
        return []
    if typ == "POINT":
        return [[[list(map(float, data))]]]
    if typ in ("LINESTRING", "MULTIPOINT"):
        return [[data.tolist()]]
    if typ == "MULTILINESTRING":
        return [[r.tolist()] for r in data]
    if typ == "POLYGON":
        return [[r.tolist() for r in data]]
    if typ == "MULTIPOLYGON":
        return [[r.tolist() for r in poly] for poly in data]
    if typ == "GEOMETRYCOLLECTION":
        # recurse — parse_wkt supports nested collections, and the r4
        # review found this branch existed only in the (duplicated)
        # string-input wrapper, silently dropping nested members
        out = []
        for sub in data:
            out.extend(wkt_to_4d_array_from_parsed(sub))
        return out
    return []


# --------------------------------------------------------- point in polygon
def _ring_edges(ring: np.ndarray):
    ring = np.asarray(ring, dtype=np.float64)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    if not (ring[0] == ring[-1]).all():
        x1 = np.append(x1, ring[-1, 0]); y1 = np.append(y1, ring[-1, 1])
        x2 = np.append(x2, ring[0, 0]); y2 = np.append(y2, ring[0, 1])
    return x1, y1, x2, y2


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting parity: True iff point is inside
    the ring by crossing parity (boundary points get arbitrary parity —
    pair with points_on_ring for strict-interior semantics)."""
    x1, y1, x2, y2 = _ring_edges(ring)
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = np.sum(cond & (px < xint), axis=1)
    return (crossings % 2).astype(bool)


def points_on_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """True iff point lies exactly on a ring edge (zero cross product
    and within the segment's bbox).

    DELIBERATE float semantics: `cross == 0.0` is exact, so a point
    mathematically on a non-axis-aligned edge whose cross product
    rounds to ~1e-17 is treated as off-boundary and falls to ray-cast
    parity. JTS uses robust orientation there; this engine instead
    keeps the SAME double arithmetic as its DuckDB/Spark SQL twins so
    both engines classify every point identically — the oracle-parity
    contract outranks vertex-exact JTS boundary fidelity here (the
    known divergence is documented in NOTES/COVERAGE)."""
    x1, y1, x2, y2 = _ring_edges(ring)
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    within = (
        (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
    )
    return np.any((cross == 0.0) & within, axis=1)


def points_in_polygon(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Strict-interior polygon-with-holes containment: inside the
    exterior by parity, not inside any hole, and NOT on any ring
    boundary — matching JTS Geometry.contains (boundary=false) used by
    the reference at G:5916 / G:11197-11216."""
    inside = points_in_ring(px, py, rings[0]) & ~points_on_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole) & ~points_on_ring(px, py, hole)
    return inside


def points_in_multipolygon(px, py, polys: list[list[np.ndarray]]) -> np.ndarray:
    out = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for rings in polys:
        out |= points_in_polygon(px, py, rings)
    return out


def points_in_geom(px, py, wkt_or_parsed) -> np.ndarray:
    parsed = parse_wkt(wkt_or_parsed) if isinstance(wkt_or_parsed, str) else wkt_or_parsed
    typ, data = parsed
    n = len(np.atleast_1d(px))
    if typ == "POLYGON":
        return points_in_polygon(px, py, data)
    if typ == "MULTIPOLYGON":
        return points_in_multipolygon(px, py, data)
    if typ == "GEOMETRYCOLLECTION":
        out = np.zeros(n, dtype=bool)
        for sub in data:
            if sub[0] in ("POLYGON", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
                out |= points_in_geom(px, py, sub)
        return out
    return np.zeros(n, dtype=bool)


def geom_envelope(parsed) -> tuple[float, float, float, float] | None:
    typ, data = parsed
    coords = []
    if typ == "EMPTY":
        return None
    if typ == "POINT":
        coords = [data.reshape(1, 2)]
    elif typ in ("LINESTRING", "MULTIPOINT"):
        coords = [data]
    elif typ in ("POLYGON", "MULTILINESTRING"):
        coords = list(data)
    elif typ == "MULTIPOLYGON":
        coords = [r for poly in data for r in poly]
    elif typ == "GEOMETRYCOLLECTION":
        envs = [geom_envelope(s) for s in data]
        envs = [e for e in envs if e]
        if not envs:
            return None
        e = np.array(envs)
        return float(e[:, 0].min()), float(e[:, 1].min()), float(e[:, 2].max()), float(e[:, 3].max())
    if not coords:
        return None
    allc = np.vstack(coords)
    return float(allc[:, 0].min()), float(allc[:, 1].min()), float(allc[:, 0].max()), float(allc[:, 1].max())


def is_convex_ring(ring: np.ndarray) -> bool:
    r = close_ring(np.asarray(ring, dtype=np.float64))
    if len(r) < 4:
        return False
    v = np.diff(r, axis=0)
    cross = v[:-1, 0] * v[1:, 1] - v[:-1, 1] * v[1:, 0]
    cross = np.append(cross, v[-1, 0] * v[0, 1] - v[-1, 1] * v[0, 0])
    nz = cross[np.abs(cross) > 0]
    # fully-collinear (zero-area) rings are NOT convex: returning True
    # here let the exact convex-clip fast path run with a degenerate
    # clip ring and emit zero-area POLYGON WKT instead of degrading to
    # EMPTY via the general path (r6 review)
    return bool(len(nz) > 0 and ((nz > 0).all() or (nz < 0).all()))


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    r = close_ring(np.asarray(ring, dtype=np.float64))
    signed2 = np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])
    return r if signed2 >= 0 else r[::-1]


def convex_clip(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip a polygon ring by a CONVEX ring.
    Returns the clipped ring (possibly empty). Exact vertex arithmetic
    — used by the intersection operator when the clip side is convex;
    general polygon pairs fall back to the raster engine."""
    clip = _ensure_ccw(clip)
    out = close_ring(np.asarray(subject, dtype=np.float64))[:-1].tolist()
    for i in range(len(clip) - 1):
        if not out:
            return np.zeros((0, 2))
        ax, ay = clip[i]
        bx, by = clip[i + 1]
        ex, ey = bx - ax, by - ay
        nxt = []
        prev = out[-1]
        prev_in = ex * (prev[1] - ay) - ey * (prev[0] - ax) >= 0
        for cur in out:
            cur_in = ex * (cur[1] - ay) - ey * (cur[0] - ax) >= 0
            if cur_in != prev_in:
                # intersection of segment prev->cur with the clip line
                dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                den = ex * dy - ey * dx
                if den != 0:
                    t = (ex * (prev[1] - ay) - ey * (prev[0] - ax)) / -den
                    nxt.append([prev[0] + t * dx, prev[1] + t * dy])
            if cur_in:
                nxt.append(list(cur))
            prev, prev_in = cur, cur_in
        out = nxt
    if len(out) < 3:
        return np.zeros((0, 2))
    arr = np.asarray(out, dtype=np.float64)
    return np.vstack([arr, arr[:1]])


# ------------------------------------------------------------------ misc
def shoelace_area(ring: np.ndarray) -> float:
    """Planar signed area x2 -> abs/2 (used on Gauss-plane coords)."""
    r = close_ring(np.asarray(ring, dtype=np.float64))
    x, y = r[:, 0], r[:, 1]
    return float(abs(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])) / 2.0)


def point_segment_dist(px, py, ax, ay, bx, by):
    """Vectorized distance from points to a segment."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    dx, dy = bx - ax, by - ay
    den = dx * dx + dy * dy
    if den == 0:
        return np.hypot(px - ax, py - ay)
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / den, 0.0, 1.0)
    return np.hypot(px - (ax + t * dx), py - (ay + t * dy))


def douglas_peucker(points: np.ndarray, tol: float) -> np.ndarray:
    """Iterative DP simplification (reference caps vertex counts with
    DouglasPeuckerSimplifier at G:1283/G:2456/G:2591)."""
    pts = np.asarray(points, dtype=np.float64)
    return pts[douglas_peucker_mask(pts, tol)]


def douglas_peucker_mask(points: np.ndarray, tol: float) -> np.ndarray:
    """Boolean keep-mask form of douglas_peucker (same recursion; the
    DataFrame sampling operator needs the mask to keep whole rows)."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return np.ones(n, dtype=bool)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[i + 1 : j]
        d = point_segment_dist(seg[:, 0], seg[:, 1], pts[i, 0], pts[i, 1], pts[j, 0], pts[j, 1])
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep
