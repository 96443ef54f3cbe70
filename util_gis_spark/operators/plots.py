"""Plot construction composites — the reference's two flagship entry
points re-expressed as grouped-map operators:

- get_farm_plot (G:13420-13507): filter -> project -> simplifyByAngle
  -> corridor buffer(width/2) -> closing(clamp(width,2,8)) ->
  unproject -> FarmPlot(wkt, mu, times, count, mileage).
- split_road (G:13655-14203): adds cadence windows, per-window DBSCAN
  with presets, sampling, opening (road cut), part flattening with
  area/point filters, and the 80%-overlap dedup.

One (device_id) group = one reference invocation, run inside
applyInPandas; geometry built with the raster morphology engine
(geo/morphology.py — disk dilation/erosion = JTS +/- buffers).
The time-overlap re-split algorithms 0 (_algorithm0_merge,
G:13903-13952) and 1 (_algorithm1_resegment, G:13953-14089) are both
implemented and fixture-tested; plots are emitted sorted by first
point time like the reference (G:13884-13899).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..geo import gauss, morphology as M
from ..geo.geometry import points_in_polygon
from ..geo.sphere import calc_mu, np_polygon_area_m2
from .clustering import eps_minpts_preset, np_dbscan
from .sampling import np_fast_distance_sampling, np_simplify_by_angle

MIN_RETURN_MU = 0.55  # G:390
MIN_RETURN_POINTS = 60  # G:399
MAX_WINDOW_INTERVAL_S = 20  # G:13747: discard windows with interval > 20 s
OVERLAP_DEDUP_RATIO = 0.8  # G:14091-14140
GRID_M = 0.5


def _clamp_closing(width: float) -> float:
    """p = clamp(width, 2, 8) (G:13686-13690)."""
    return float(min(max(width, 2.0), 8.0))


def _planar_mileage(x: np.ndarray, y: np.ndarray) -> float:
    if len(x) < 2:
        return 0.0
    return float(np.sum(np.hypot(np.diff(x), np.diff(y))))


def _polygon_to_wgs84(poly_rings: list[np.ndarray], zone: int):
    """Unproject rings (Gauss m -> WGS84 deg); returns rings + mu."""
    out = []
    for ring in poly_rings:
        lon, lat, _ = gauss.gauss_inverse(ring[:, 0], ring[:, 1], zone=zone)
        out.append(np.column_stack([lon, lat]))
    mu = calc_mu(np_polygon_area_m2(out))
    return out, mu


def _rings_wkt(rings: list[np.ndarray]) -> str:
    from ..geo.geometry import polygon_wkt

    return polygon_wkt(rings)


def build_farm_plot(
    xy: np.ndarray,
    ts_s: np.ndarray,
    zone: int,
    working_width: float,
    grid_m: float = GRID_M,
) -> list[dict]:
    """Single-plot construction on one projected trajectory
    (getFarmPlot core). Returns 0..n plot dicts (multi parts possible
    after closing, reference keeps the buffered geometry whole)."""
    if len(xy) < 2:
        return []
    keep = np_simplify_by_angle(xy)
    sxy = xy[keep]
    p = _clamp_closing(working_width)
    # safe-buffer clamp (G:5064-5143): binds only near the Gauss box
    # edges; floor MIN_BUFFER_DISTANCE=1 m
    dist = gauss.calculate_safe_buffer(
        float(sxy[:, 0].min()), float(sxy[:, 1].min()),
        float(sxy[:, 0].max()), float(sxy[:, 1].max()), working_width / 2.0,
    )
    r = M.buffer_polyline(sxy, dist, g=grid_m, extra_pad_m=2 * p)
    r = M.closing(r, p)
    rings = M.trace_rings(r, simplify_tol=grid_m)
    polys = M.rings_to_polygons(rings)
    plots = []
    mileage = _planar_mileage(xy[:, 0], xy[:, 1])
    for rings_g in polys:
        wgs_rings, mu = _polygon_to_wgs84(rings_g, zone)
        plots.append(
            {
                "wkt": _rings_wkt(wgs_rings),
                "mu": mu,
                "start_ts": float(ts_s.min()),
                "end_ts": float(ts_s.max()),
                "n_points": int(len(xy)),
                "mileage_m": round(mileage, 3),
            }
        )
    return plots


def build_split_road_plots(
    xy: np.ndarray,
    ts_s: np.ndarray,
    zone: int,
    working_width: float,
    grid_m: float = GRID_M,
    min_return_mu: float = MIN_RETURN_MU,
    min_return_points: int = MIN_RETURN_POINTS,
    algorithm: int = 0,
) -> list[dict]:
    """splitRoad core over one projected, quality+speed-filtered
    trajectory: cadence windows -> per-window sampling + DBSCAN ->
    per-cluster morphology (buffer/closing/OPENING to cut roads) ->
    flatten parts, area/point filters -> 80%-overlap dedup ->
    time-sorted plots."""
    from .windows import np_split_time_windows

    n = len(xy)
    if n <= min_return_points:
        # aligned with the reference's strict `> MIN_RETURN_POINTS`
        # everywhere (G:9006/9500); equivalent outcome either way since
        # every emitted part needs > min_return_points interior points
        return []
    win_id, win_label = np_split_time_windows(ts_s.astype(np.int64))
    plots: list[dict] = []
    p_close = _clamp_closing(working_width)
    n_open = float(working_width)

    for wid in np.unique(win_id):
        sel = win_id == wid
        interval = int(win_label[sel][0])
        if interval > MAX_WINDOW_INTERVAL_S:
            continue  # G:13747
        wxy, wts = xy[sel], ts_s[sel]
        if len(wxy) < min_return_points:
            continue
        keep = np_fast_distance_sampling(wxy)
        sxy, sts = wxy[keep], wts[keep]
        eps, min_pts = eps_minpts_preset(max(interval, 1))
        labels = np_dbscan(sxy, eps, min_pts)
        for cl in range(labels.max() + 1 if labels.size else 0):
            cxy = sxy[labels == cl]
            cts = sts[labels == cl]
            if len(cxy) < 2:
                continue
            skeep = np_simplify_by_angle(cxy)
            line = cxy[skeep]
            r = M.buffer_polyline(line, working_width / 2.0, g=grid_m, extra_pad_m=2 * p_close)
            r = M.closing(r, p_close)
            r = M.opening(r, n_open)
            rings = M.trace_rings(r, simplify_tol=grid_m)
            for rings_g in M.rings_to_polygons(rings):
                # part must contain >= 1 cluster point (G:13850-13870)
                inside = points_in_polygon(cxy[:, 0], cxy[:, 1], rings_g)
                if not inside.any():
                    continue
                n_in = int(inside.sum())
                if n_in <= min_return_points:
                    continue
                wgs_rings, mu = _polygon_to_wgs84(rings_g, zone)
                if mu <= min_return_mu:
                    continue
                pts_in = cts[inside]
                plots.append(
                    {
                        "wkt": _rings_wkt(wgs_rings),
                        "mu": mu,
                        "start_ts": float(pts_in.min()),
                        "end_ts": float(pts_in.max()),
                        "n_points": n_in,
                        "mileage_m": round(_planar_mileage(cxy[:, 0], cxy[:, 1]), 3),
                        "_rings_g": rings_g,
                        "_pts_xy": cxy[inside],
                        "_pts_ts": pts_in,
                    }
                )

    plots.sort(key=lambda pl: pl["start_ts"])  # G:13884-13899
    if _has_time_overlap(plots):
        if algorithm == 0:
            plots = _algorithm0_merge(plots, zone, grid_m)  # G:13903-13952
        elif algorithm == 1:
            plots = _algorithm1_resegment(  # G:13953-14089
                plots, zone, working_width, grid_m, min_return_mu
            )
    plots = _dedup_overlaps(plots, grid_m)
    for pl in plots:
        pl.pop("_rings_g", None)
        pl.pop("_pts_xy", None)
        pl.pop("_pts_ts", None)
    return plots


def _algorithm1_resegment(
    plots: list[dict], zone: int, working_width: float, g: float, min_return_mu: float
) -> list[dict]:
    """splitRoad algorithm 1 (G:13953-14089): tag every contained point
    with its plot index, time-sort the union, re-segment on tag change,
    and regenerate geometry per segment (simplify -> buffer -> closing
    -> OPENING). Fallbacks per the reference: empty after opening ->
    drop ('all road'); exactly one surviving big part -> keep it with
    its contained points; multiple big parts -> fall back to the
    UNOPENED (closing-only) geometry with the whole segment."""
    tagged = []
    for i, pl in enumerate(plots):
        for xy, t in zip(pl["_pts_xy"], pl["_pts_ts"]):
            tagged.append((float(t), float(xy[0]), float(xy[1]), i))
    tagged.sort()
    segments: list[list[tuple]] = []
    for row in tagged:
        if segments and segments[-1][-1][3] == row[3]:
            segments[-1].append(row)
        else:
            segments.append([row])

    p_close = _clamp_closing(working_width)
    n_open = float(working_width)
    out: list[dict] = []
    for seg in segments:
        if len(seg) <= 3:
            continue
        sxy = np.array([[r[1], r[2]] for r in seg])
        sts = np.array([r[0] for r in seg])
        keep = np_simplify_by_angle(sxy)
        line = sxy[keep]
        if len(line) < 3:
            continue
        r = M.buffer_polyline(line, working_width / 2.0, g=g, extra_pad_m=2 * p_close)
        closed = M.closing(r, p_close)
        opened = M.opening(closed, n_open)
        open_parts = M.rings_to_polygons(M.trace_rings(opened, simplify_tol=g))
        if not open_parts:
            continue  # all road
        big = [
            pr for pr in open_parts
            if (M.abs_area(pr[0]) - sum(M.abs_area(h) for h in pr[1:])) * MU_PER_M2_PLANAR
            > min_return_mu
        ]
        chosen: list[list[np.ndarray]] | None = None
        pts_xy, pts_ts = sxy, sts
        if len(open_parts) == 1:
            if big:
                chosen = open_parts
        elif len(big) == 1:
            chosen = big
        elif len(big) == 0:
            continue
        else:
            closed_parts = M.rings_to_polygons(M.trace_rings(closed, simplify_tol=g))
            tot = sum(
                M.abs_area(pr[0]) - sum(M.abs_area(h) for h in pr[1:]) for pr in closed_parts
            )
            if tot * MU_PER_M2_PLANAR > min_return_mu:
                chosen = closed_parts
        if chosen is None:
            continue
        flat = [ring for pr in chosen for ring in pr]
        inside = points_in_polygon(pts_xy[:, 0], pts_xy[:, 1], chosen[0]) if len(chosen) == 1 else None
        if len(chosen) == 1:
            if inside is None or not inside.any():
                continue
            sel_xy, sel_ts = pts_xy[inside], pts_ts[inside]
        else:
            sel_xy, sel_ts = pts_xy, pts_ts
        wgs_parts = []
        total_mu = 0.0
        for pr in chosen:
            wgs_rings, mu = _polygon_to_wgs84(pr, zone)
            wgs_parts.append(wgs_rings)
            total_mu += mu
        from ..geo.geometry import multipolygon_wkt

        out.append(
            {
                "wkt": _rings_wkt(wgs_parts[0]) if len(wgs_parts) == 1 else multipolygon_wkt(wgs_parts),
                "mu": round(total_mu, 4),
                "start_ts": float(sel_ts.min()),
                "end_ts": float(sel_ts.max()),
                "n_points": int(len(sel_xy)),
                "mileage_m": round(_planar_mileage(sxy[:, 0], sxy[:, 1]), 3),
                "_rings_g": flat,
                "_pts_xy": sel_xy,
                "_pts_ts": sel_ts,
            }
        )
    return out


# reference gates on planar getArea * SQUARE_TO_MU_METER — the SAME
# constant as the spherical mu path; alias it from the one definition
# (geo.sphere) instead of re-hardcoding 3/2000 here (r6 review)
from ..geo.sphere import MU_PER_M2 as MU_PER_M2_PLANAR  # noqa: E402


def _has_time_overlap(plots: list[dict]) -> bool:
    """hasTimeOverlap over plot time ranges (G:10128-10151)."""
    for a, b in zip(plots, plots[1:]):
        if a["end_ts"] > b["start_ts"]:
            return True
    return False


def _union_rings(
    a: list[np.ndarray], b: list[np.ndarray], g: float
) -> tuple[list[np.ndarray], list[list[np.ndarray]]]:
    """Raster union of two flat ring lists (even-odd fill handles any
    mix of shells/holes). Returns (flat rings for further rasterizing,
    parts as polygons for area/WKT)."""
    allc = np.vstack([np.vstack(a), np.vstack(b)])
    x0 = float(allc[:, 0].min()) - 2 * g
    y0 = float(allc[:, 1].min()) - 2 * g
    nx = max(int(np.ceil((allc[:, 0].max() - x0) / g)) + 2, 4)
    ny = max(int(np.ceil((allc[:, 1].max() - y0) / g)) + 2, 4)
    mask = M.rasterize_rings(a, x0, y0, nx, ny, g) | M.rasterize_rings(b, x0, y0, nx, ny, g)
    rings = M.trace_rings(M.Raster(mask, x0, y0, g), simplify_tol=g)
    parts = M.rings_to_polygons(rings)
    flat: list[np.ndarray] = []
    for p in parts:
        flat.extend(p)
    return flat, parts


def _algorithm0_merge(plots: list[dict], zone: int, g: float) -> list[dict]:
    """splitRoad algorithm 0 (G:13903-13952): greedy union of plots
    whose time ranges overlap the running merged range; geometry union
    = raster OR (the reference's union().buffer(0))."""
    merged: list[dict] = []
    cur: dict | None = None
    for pl in plots:
        if cur is None:
            cur = dict(pl)
            cur["_parts"] = [pl["_rings_g"]]
            continue
        if cur["end_ts"] > pl["start_ts"]:
            cur["_rings_g"], cur["_parts"] = _union_rings(cur["_rings_g"], pl["_rings_g"], g)
            cur["n_points"] += pl["n_points"]
            cur["mileage_m"] = round(cur["mileage_m"] + pl["mileage_m"], 3)
            cur["end_ts"] = max(cur["end_ts"], pl["end_ts"])
            cur["_pts_xy"] = np.vstack([cur["_pts_xy"], pl["_pts_xy"]])
            cur["_pts_ts"] = np.concatenate([cur["_pts_ts"], pl["_pts_ts"]])
        else:
            merged.append(cur)
            cur = dict(pl)
            cur["_parts"] = [pl["_rings_g"]]
    if cur is not None:
        merged.append(cur)
    from ..geo.geometry import multipolygon_wkt

    for pl in merged:
        wgs_parts = []
        total = 0.0
        for rings_g in pl["_parts"]:
            wgs_rings, mu = _polygon_to_wgs84(rings_g, zone)
            wgs_parts.append(wgs_rings)
            total += mu
        pl["wkt"] = (
            _rings_wkt(wgs_parts[0]) if len(wgs_parts) == 1 else multipolygon_wkt(wgs_parts)
        )
        pl["mu"] = round(total, 4)
        pl.pop("_parts", None)
    return merged


def _dedup_overlaps(plots: list[dict], grid_m: float) -> list[dict]:
    """Drop a plot if >= 80% of its area is covered by an already-kept
    LARGER plot (G:14091-14140); raster overlap on a shared grid."""
    if len(plots) <= 1:
        return plots
    order = sorted(range(len(plots)), key=lambda i: -plots[i]["mu"])
    envs = [_rings_env(p["_rings_g"]) for p in plots]  # once per plot, not per pair
    kept: list[int] = []
    for i in order:
        ri = plots[i]["_rings_g"]
        env_i = envs[i]
        drop = False
        for j in kept:
            rj = plots[j]["_rings_g"]
            if not _env_intersect(env_i, envs[j]):
                continue
            ratio = _overlap_ratio(ri, rj, grid_m)
            if ratio >= OVERLAP_DEDUP_RATIO:
                drop = True
                break
        if not drop:
            kept.append(i)
    kept_set = set(kept)
    return [p for k, p in enumerate(plots) if k in kept_set]


def _rings_env(rings: list[np.ndarray]):
    allc = np.vstack(rings)
    return (allc[:, 0].min(), allc[:, 1].min(), allc[:, 0].max(), allc[:, 1].max())


def _env_intersect(a, b) -> bool:
    return not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])


def _overlap_ratio(target: list[np.ndarray], larger: list[np.ndarray], g: float) -> float:
    """area(target AND larger) / area(target) on a shared raster."""
    x0 = min(_rings_env(target)[0], _rings_env(larger)[0]) - g
    y0 = min(_rings_env(target)[1], _rings_env(larger)[1]) - g
    x1 = max(_rings_env(target)[2], _rings_env(larger)[2]) + g
    y1 = max(_rings_env(target)[3], _rings_env(larger)[3]) + g
    nx = max(int(np.ceil((x1 - x0) / g)), 2)
    ny = max(int(np.ceil((y1 - y0) / g)), 2)
    mt = M.rasterize_rings(target, x0, y0, nx, ny, g)
    ml = M.rasterize_rings(larger, x0, y0, nx, ny, g)
    at = mt.sum()
    if at == 0:
        return 0.0
    return float((mt & ml).sum()) / float(at)


# ---------------------------------------------------------- Spark layer
PLOT_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.LongType()),
        T.StructField("plot_seq", T.IntegerType()),
        T.StructField("wkt", T.StringType()),
        T.StructField("mu", T.DoubleType()),
        T.StructField("start_ts", T.TimestampType()),
        T.StructField("end_ts", T.TimestampType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("mileage_m", T.DoubleType()),
    ]
)


def _plots_to_pdf(device_id, plots: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "device_id": np.int64(device_id),
            "plot_seq": np.arange(len(plots), dtype=np.int32),
            "wkt": [p["wkt"] for p in plots],
            "mu": [p["mu"] for p in plots],
            "start_ts": pd.to_datetime([p["start_ts"] for p in plots], unit="s"),
            "end_ts": pd.to_datetime([p["end_ts"] for p in plots], unit="s"),
            "n_points": np.array([p["n_points"] for p in plots], dtype=np.int64),
            "mileage_m": [p["mileage_m"] for p in plots],
        }
    )


def _traj_arrays(pdf: pd.DataFrame):
    from .grouped import sorted_with_secs

    pdf, ts_s = sorted_with_secs(pdf)
    if len(pdf) == 0:
        # a group whose every ts was NULL: emit no plots, never crash
        # the task on an empty-array reduction (r4 review)
        return np.zeros((0, 2)), ts_s, 0
    lon = pdf["lon"].to_numpy(np.float64)
    lat = pdf["lat"].to_numpy(np.float64)
    zone = gauss.unified_zone_of(lon)
    x, y, _ = gauss.gauss_forward(lon, lat, zone=zone)
    return np.column_stack([x, y]), ts_s, zone


def get_farm_plot(points_df: DataFrame, working_width: float) -> DataFrame:
    """DataFrame operator: one FarmPlot set per device (expects
    quality-filtered WGS84 points with device_id/ts/lon/lat)."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if key[0] is None:
            # a NULL device_id is not a device: emit no plots instead
            # of crashing the stage on np.int64(None) (r6 review; same
            # degrade-never-crash rule as sorted_with_secs' NULL ts)
            return _plots_to_pdf(0, [])
        xy, ts_s, zone = _traj_arrays(pdf)
        plots = build_farm_plot(xy, ts_s, zone, working_width)
        return _plots_to_pdf(key[0], plots)

    from .grouped import grouped_apply

    return grouped_apply(points_df, ["device_id"], run, PLOT_SCHEMA)


# NOTE no max_return_clusters: the reference DECLARES
# MAX_RETURN_CLUSTERS = 30 (GisUtil.java:432) with javadoc describing
# an eps/minPts re-cluster retry, but never reads the field anywhere in
# its logic — the allowlist briefly carried the option, which passed
# the eager check and then crashed every executor task as an unknown
# kwarg (r6 review)
SPLIT_ROAD_OPTIONS = {
    "grid_m",
    "min_return_points",
    "min_return_mu",
    "algorithm",
}


def split_road(points_df: DataFrame, working_width: float, **kw) -> DataFrame:
    """DataFrame operator: multi-plot road-splitting per device."""
    unknown = set(kw) - SPLIT_ROAD_OPTIONS
    if unknown:
        # eager driver-side check, same convention as pip_join /
        # filter_parking_by_time_window: a typo'd option must not cost
        # a full job run to surface as an executor TypeError
        raise TypeError(f"split_road: unknown option(s) {sorted(unknown)}")

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if key[0] is None:  # NULL device: no plots, never crash (r6 review)
            return _plots_to_pdf(0, [])
        xy, ts_s, zone = _traj_arrays(pdf)
        plots = build_split_road_plots(xy, ts_s, zone, working_width, **kw)
        return _plots_to_pdf(key[0], plots)

    from .grouped import grouped_apply

    return grouped_apply(points_df, ["device_id"], run, PLOT_SCHEMA)
