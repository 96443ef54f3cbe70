"""The batched cell classifier (cells.classify_cells) against its
reference twin (tests/classify_twin.py: the former per-polygon DDA +
4-corner path), plus the kernel's own contracts: the supercover's
degenerate-input behaviour and the bounded working set."""

from __future__ import annotations

import numpy as np
import pytest

from tests.classify_twin import classify_polygon_cells
from util_gis_spark.geo import cells
from util_gis_spark.geo.geometry import parse_wkt, points_in_polygon

# grid lines of res 8 are grid lines at every finer resolution too
_SNAP = (360.0 / 256, 180.0 / 256)


def _ring_txt(pts, close=True) -> str:
    pts = list(pts) + ([pts[0]] if close else [])
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + ")"


def _segments_cross(p, q, r, s) -> bool:
    """Do closed segments pq and rs share a point (exact orientation)?"""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return (v > 0) - (v < 0)

    def on(a, b, c):
        return min(a[0], b[0]) <= c[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])

    o1, o2, o3, o4 = orient(p, q, r), orient(p, q, s), orient(r, s, p), orient(r, s, q)
    if o1 != o2 and o3 != o4:
        return True
    return (
        (o1 == 0 and on(p, q, r)) or (o2 == 0 and on(p, q, s))
        or (o3 == 0 and on(r, s, p)) or (o4 == 0 and on(r, s, q))
    )


def _simple(rings) -> bool:
    """No two edges of the rings meet, except ring-adjacent edges at
    their shared vertex."""
    edges = []
    for ri, r in enumerate(rings):
        k = len(r)
        edges += [(ri, i, k, r[i], r[(i + 1) % k]) for i in range(k)]
    for a in range(len(edges)):
        for b in range(a + 1, len(edges)):
            ra, ia, ka, p, q = edges[a]
            rb, ib, _kb, r, s = edges[b]
            if ra == rb and (ib - ia) % ka in (1, ka - 1):
                continue
            if _segments_cross(p, q, r, s):
                return False
    return True


def _star(rng, cx, cy, r0, r1, k, snap):
    """Jittered-angle star ring (k vertices), optionally snapped onto
    grid lines; None when snapping broke it."""
    ang = (np.arange(k) + rng.uniform(-0.25, 0.25, k)) * 2 * np.pi / k
    rad = rng.uniform(r0, r1, k)
    x, y = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
    if snap:
        x = np.round((x + 180.0) / snap[0]) * snap[0] - 180.0
        y = np.round((y + 90.0) / snap[1]) * snap[1] - 90.0
    pts = []
    for p in zip(x.tolist(), y.tolist()):
        if not pts or p != pts[-1]:
            pts.append(p)
    if len(pts) > 1 and pts[-1] == pts[0]:
        pts.pop()
    return pts if len(pts) >= 3 and _simple([pts]) else None


def _staircase(rng, snap):
    """Rectilinear polygon whose every edge lies on a grid line."""
    sx, sy = snap
    x0 = -180.0 + rng.randint(20, 230) * sx
    y0 = -90.0 + rng.randint(20, 200) * sy
    steps = rng.randint(2, 6)
    xs = np.cumsum(rng.randint(1, 4, steps)) * sx + x0
    ys = np.cumsum(rng.randint(1, 4, steps)) * sy + y0
    pts = [(x0, y0), (float(xs[-1]), y0)]
    for i in range(steps - 1, 0, -1):
        pts += [(float(xs[i]), float(ys[steps - 1 - i])), (float(xs[i - 1]), float(ys[steps - 1 - i]))]
    pts += [(float(xs[0]), float(ys[-1])), (x0, float(ys[-1]))]
    return pts


def fuzz_corpus(seed: int, n: int = 40) -> list[str]:
    """Valid polygons: random stars (free and snapped to grid lines),
    stars with a hole, two-part multipolygons, rectilinear polygons on
    grid lines; every other single ring is written unclosed."""
    rng = np.random.RandomState(seed)
    out = []
    while len(out) < n:
        kind = len(out) % 6
        cx, cy = rng.uniform(-160, 160), rng.uniform(-75, 75)
        snap = _SNAP if kind in (3, 4) else None
        close = len(out) % 12 not in (3, 6, 11)  # unclosed: snapped, free, rectilinear
        if kind == 5:
            out.append("POLYGON (" + _ring_txt(_staircase(rng, _SNAP), close) + ")")
            continue
        shell = _star(rng, cx, cy, 4.0, 8.0, rng.randint(6, 14 if snap else 40), snap)
        if shell is None:
            continue
        if kind in (1, 4):
            hole = _star(rng, cx, cy, 0.3, 1.0, rng.randint(3, 10), snap)
            if hole is None or not _simple([shell, hole]):
                continue
            if not points_in_polygon(
                np.array([p[0] for p in hole]), np.array([p[1] for p in hole]), [np.array(shell + shell[:1])]
            ).all():
                continue
            out.append("POLYGON (" + _ring_txt(shell) + ", " + _ring_txt(hole[::-1]) + ")")
        elif kind == 2:
            other = _star(rng, cx + (20 if cx < 0 else -20), cy, 1.0, 3.0, rng.randint(3, 12), None)
            if other is None:
                continue
            out.append("MULTIPOLYGON ((" + _ring_txt(shell) + "), (" + _ring_txt(other) + "))")
        else:
            out.append("POLYGON (" + _ring_txt(shell, close) + ")")
    return out


def _kernel_sets(parsed_list, res):
    poly, cell, inside = cells.classify_cells(parsed_list, res)
    return [
        (set(cell[(poly == g) & inside].tolist()), set(cell[(poly == g) & ~inside].tolist()))
        for g in range(len(parsed_list))
    ]


def _twin_sets(parsed, res):
    inside, boundary = classify_polygon_cells(parsed, res)
    return set(inside.tolist()), set(boundary.tolist())


@pytest.mark.parametrize("res", [8, 10, 12])
def test_kernel_matches_twin_on_fuzz_corpus(res):
    # the twin's 4-corner test is corners x edges: keep res 12 smaller
    corpus = fuzz_corpus(7) + fuzz_corpus(8) if res < 12 else fuzz_corpus(9, 18)
    parsed = [parse_wkt(w) for w in corpus]
    got = _kernel_sets(parsed, res)  # the whole corpus is one batch
    bad = [w[:60] for w, p, g in zip(corpus, parsed, got) if g != _twin_sets(p, res)]
    assert not bad, bad
    assert sum(len(g[0]) for g in got) > 0  # the fast accept fires


def test_kernel_matches_twin_on_perfbench_layer(tmp_path, monkeypatch):
    import os

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    from workloads import JoinCalls
    from util_gis_spark.operators.joins import pick_res

    rects = JoinCalls(11, 1, str(tmp_path))._rects()
    parsed = [parse_wkt(w) for w in rects["wkt"]]
    res = pick_res([(a, b, c, d) for a, b, c, d in rects[["xmin", "ymin", "xmax", "ymax"]].to_numpy()])
    assert res == 20
    poly, cell, inside = cells.classify_cells(parsed, res)
    want_in, want_bd = [], []
    for p in parsed:
        i, b = classify_polygon_cells(p, res)
        want_in.append(i)
        want_bd.append(b)
    assert np.array_equal(np.sort(cell[inside]), np.sort(np.concatenate(want_in)))
    assert np.array_equal(np.sort(cell[~inside]), np.sort(np.concatenate(want_bd)))


def test_degenerate_geometries():
    wkts = [
        "POLYGON EMPTY",
        "LINESTRING (0 0, 1 1)",
        "GEOMETRYCOLLECTION (POINT (20 20), POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0)))",
        "POLYGON ((170 80, 200 80, 200 100, 170 100, 170 80))",  # beyond the domain
        "POLYGON ((1 1, 1 1, 1 1, 1 1))",
    ]
    parsed = [parse_wkt(w) for w in wkts]
    got = _kernel_sets(parsed, 8)
    assert got[0] == (set(), set())
    assert not got[1][0] and got[1][1]  # no polygonal part: all boundary
    for g in (2, 4):
        assert got[g] == _twin_sets(parsed[g], 8)
    assert got[3][0] <= _twin_sets(parsed[3], 8)[0]


def test_chunked_equals_unchunked(monkeypatch):
    """A 2,000-vertex polygon over >= 1e5 cells, with the work-unit
    bound forced low enough to tile it, gives the same cells."""
    rng = np.random.RandomState(3)
    k = 2000
    ang = (np.arange(k) + rng.uniform(-0.3, 0.3, k)) * 2 * np.pi / k
    rad = rng.uniform(2.0, 3.0, k)
    wkt = "POLYGON (" + _ring_txt(list(zip((10 + rad * np.cos(ang)).tolist(), (rad * np.sin(ang)).tolist()))) + ")"
    parsed = [parse_wkt(wkt), parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")]
    full = cells.classify_cells(parsed, 14)
    assert (full[0] == 0).sum() >= 100_000
    monkeypatch.setattr(cells, "CLASSIFY_MAX_ROWS", 5_000)
    chunks = list(cells.classify_cell_chunks(parsed, 14))
    assert len(chunks) > 20
    assert max(len(c[1]) for c in chunks) <= 5_000
    tiled = tuple(np.concatenate(c) for c in zip(*chunks))

    def canon(t):
        o = np.lexsort((t[1], t[0]))
        return [a[o] for a in t]

    for a, b in zip(canon(full), canon(tiled)):
        assert np.array_equal(a, b)
    assert full[2].sum() > 0
