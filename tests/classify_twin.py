"""Reference twin of the batched cell classifier (cells.classify_cells):
the engine's former per-polygon path, kept verbatim as the slow,
obviously-scalar oracle the vectorized kernel is fuzzed against.

- `segment_cells`: DDA grid walk of one segment (supercover, exact
  corner crossings mark both neighbours); out-of-domain endpoints give
  the clamped bbox cover, non-finite ones the empty set. One change
  from the engine's former copy: the walk's cells are clipped to the
  segment's clamped bbox. A segment that ends ON a lattice point,
  reached through exact corner ties, stepped past its end cell and
  walked on until its step guard ran out, marking cells beyond the end
  vertex as boundary (conservative — a slower join, never a wrong
  row — but no point of the segment lies there).
- `classify_polygon_cells`: a cover cell is inside iff no ring edge's
  DDA walk visits it and its 4 corners are strictly inside
  (points_in_geom); everything else covering the envelope is boundary.
"""

from __future__ import annotations

import numpy as np

from util_gis_spark.geo import cells
from util_gis_spark.geo.cells import IX_SHIFT, RES_SHIFT, cover_bbox
from util_gis_spark.geo.geometry import geom_envelope, geom_polys, points_in_geom


def segment_cells(lon0: float, lat0: float, lon1: float, lat1: float, res: int) -> set[int]:
    if not all(map(np.isfinite, (lon0, lat0, lon1, lat1))):
        return set()
    if not (
        -180.0 <= lon0 <= 180.0 and -90.0 <= lat0 <= 90.0
        and -180.0 <= lon1 <= 180.0 and -90.0 <= lat1 <= 90.0
    ):
        return set(
            int(c)
            for c in cover_bbox(
                min(lon0, lon1), min(lat0, lat1), max(lon0, lon1), max(lat0, lat1), res
            )
        )
    n = 1 << res
    fx0, fy0 = (lon0 + 180.0) / 360.0 * n, (lat0 + 90.0) / 180.0 * n
    fx1, fy1 = (lon1 + 180.0) / 360.0 * n, (lat1 + 90.0) / 180.0 * n
    ix, iy = int(np.clip(np.floor(fx0), 0, n - 1)), int(np.clip(np.floor(fy0), 0, n - 1))
    jx, jy = int(np.clip(np.floor(fx1), 0, n - 1)), int(np.clip(np.floor(fy1), 0, n - 1))
    out = {res * RES_SHIFT + ix * IX_SHIFT + iy}
    dx, dy = fx1 - fx0, fy1 - fy0
    sx, sy = (1 if dx > 0 else -1), (1 if dy > 0 else -1)
    t_max_x = ((ix + (sx > 0)) - fx0) / dx if dx != 0 else np.inf
    t_max_y = ((iy + (sy > 0)) - fy0) / dy if dy != 0 else np.inf
    t_dx = abs(1.0 / dx) if dx != 0 else np.inf
    t_dy = abs(1.0 / dy) if dy != 0 else np.inf
    box = (min(ix, jx), max(ix, jx), min(iy, jy), max(iy, jy))
    guard = 4 * (abs(jx - ix) + abs(jy - iy) + 2)
    while (ix != jx or iy != jy) and guard > 0:
        guard -= 1
        if t_max_x < t_max_y:
            t_max_x += t_dx
            ix += sx
        elif t_max_y < t_max_x:
            t_max_y += t_dy
            iy += sy
        else:  # exact corner crossing: mark both neighbors (supercover)
            if 0 <= ix + sx < n and 0 <= iy < n:
                out.add(res * RES_SHIFT + (ix + sx) * IX_SHIFT + iy)
            if 0 <= ix < n and 0 <= iy + sy < n:
                out.add(res * RES_SHIFT + ix * IX_SHIFT + (iy + sy))
            t_max_x += t_dx
            t_max_y += t_dy
            ix += sx
            iy += sy
        if 0 <= ix < n and 0 <= iy < n:
            out.add(res * RES_SHIFT + ix * IX_SHIFT + iy)
    _r, cx, cy = cells.np_decode(np.fromiter(out, dtype=np.int64, count=len(out)))
    keep = (cx >= box[0]) & (cx <= box[1]) & (cy >= box[2]) & (cy <= box[3])
    return set(np.fromiter(out, dtype=np.int64, count=len(out))[keep].tolist())


def classify_polygon_cells(parsed, res: int) -> tuple[np.ndarray, np.ndarray]:
    env = geom_envelope(parsed)
    if env is None:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    cover = cover_bbox(*env, res)
    edge_cells: set[int] = set()
    for rings in geom_polys(parsed):
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            for i in range(len(r) - 1):
                edge_cells |= segment_cells(r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1], res)
    is_edge = np.isin(cover, np.fromiter(edge_cells, dtype=np.int64, count=len(edge_cells)))
    _resv, ix, iy = cells.np_decode(cover)
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    x0 = -180.0 + ix * w
    y0 = -90.0 + iy * h
    cx = np.concatenate([x0, x0 + w, x0 + w, x0])
    cy = np.concatenate([y0, y0, y0 + h, y0 + h])
    corner_in = points_in_geom(cx, cy, parsed).reshape(4, -1).all(axis=0)
    inside = cover[~is_edge & corner_in]
    boundary = cover[is_edge | (~is_edge & ~corner_in)]
    return inside, boundary
