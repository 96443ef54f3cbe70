"""Independent expected results for every benchmarked operator call.

Nothing here calls the Spark operators under test. Spatial answers come
from the repository's DuckDB twins of the generated views
(`IMAGES_SQL`, `POLYGONS_SQL`, `GPS_POINTS_SQL`, the WGS84 filter
template, `tile_assignment_sql`) plus plain SQL containment, or from
numpy. Dedup and IVF answers come from the DuckDB twins
(`simhash_near_dup_pairs_sql`, `minhash_near_dup_pairs_sql`,
`ann_ivf_topk_sql`), and for the 64-bit SimHash, which has no twin,
from a hashlib / numpy re-derivation.

Every function returns a plain Python value (dict / set) that the
workload compares with what the engine returned.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

import numpy as np

from util_gis_spark import datasets as D
from util_gis_spark.operators import filters
from util_gis_spark.operators import joins as J
from util_gis_spark.operators.ann import ann_ivf_topk_sql
from util_gis_spark.operators.dedup import minhash_near_dup_pairs_sql, simhash_near_dup_pairs_sql

EARTH_RADIUS_M = 6378137.0


def block_rows(total: int, block: int, classes: int, cls: int) -> str:
    """Keys 0..total-1 whose block (key // block) falls in residue class
    `cls` mod `classes` — the same selection the workloads apply."""
    return f"SELECT range AS k FROM range(0, {total}) WHERE (range // {block}) % {classes} = {cls}"


def _images_view(con, keys_sql: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT k AS doc_id, '' AS text FROM ({keys_sql})")
    con.execute(f"CREATE OR REPLACE VIEW images AS {D.IMAGES_SQL}")


def small_layer_rollup(con, keys_sql: str) -> dict[int, tuple[int, int, int]]:
    """polygon_id -> (tile rows, images, sum of image_key over tile
    rows) for the 25-rectangle bench layer joined with `keys_sql`'s
    images, then tiled at res 16."""
    _images_view(con, keys_sql)
    con.execute("CREATE OR REPLACE VIEW nation AS SELECT range AS n_nationkey FROM range(25)")
    tiled = J.tile_assignment_sql(
        "SELECT i.image_key, i.lon, i.lat, i.w, i.h, p.polygon_id "
        f"FROM images i JOIN ({D.POLYGONS_SQL}) p "
        "ON i.lon > p.xmin AND i.lon < p.xmax AND i.lat > p.ymin AND i.lat < p.ymax",
        res=16,
    )
    rows = con.execute(
        f"SELECT polygon_id, count(*), count(DISTINCT image_key), sum(image_key) "
        f"FROM ({tiled}) GROUP BY polygon_id"
    ).fetchall()
    return {int(p): (int(t), int(n), int(s)) for p, t, n, s in rows}


def large_layer_rollup(con, keys_sql: str, rects) -> dict[int, tuple[int, int]]:
    """polygon_id -> (images, sum of image_key) for strict-interior
    containment of `keys_sql`'s images in the rectangles of `rects`
    (a pandas frame: polygon_id, xmin, ymin, xmax, ymax)."""
    _images_view(con, keys_sql)
    con.register("rects", rects)
    rows = con.execute(
        "SELECT r.polygon_id, count(*), sum(i.image_key) FROM images i JOIN rects r "
        "ON i.lon > r.xmin AND i.lon < r.xmax AND i.lat > r.ymin AND i.lat < r.ymax "
        "GROUP BY r.polygon_id"
    ).fetchall()
    con.unregister("rects")
    return {int(p): (int(n), int(s)) for p, n, s in rows}


def gps_candidates(con, events_sql: str):
    """(cand_id, lon, lat) numpy arrays of the WGS84-filtered GPS
    points derived from `events_sql` (event_id, user_id, ts)."""
    con.execute(f"CREATE OR REPLACE VIEW events AS {events_sql}")
    src = D.GPS_POINTS_SQL
    df = con.execute(
        "SELECT point_id, lon, lat FROM ("
        + filters.FILTER_WGS84_SQL_TEMPLATE.format(src=src)
        + ") ORDER BY point_id"
    ).df()
    return (
        df["point_id"].to_numpy(np.int64),
        df["lon"].to_numpy(np.float64),
        df["lat"].to_numpy(np.float64),
    )


def probe_points(con, keys_sql: str):
    _images_view(con, keys_sql)
    df = con.execute("SELECT image_key, lon, lat FROM images ORDER BY image_key").df()
    return (
        df["image_key"].to_numpy(np.int64),
        df["lon"].to_numpy(np.float64),
        df["lat"].to_numpy(np.float64),
    )


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def knn_check(probes, cands, got: dict[int, int], tol_m: float = 1e-6) -> list[str]:
    """Mismatches between the engine's nearest ids (`got`: probe_id ->
    nearest_id) and a brute-force haversine scan. A returned id is
    correct when it is at the smallest distance (within `tol_m`) and is
    the smallest id among candidates at its exact location."""
    cid, clon, clat = cands
    loc_min_id: dict[tuple[float, float], int] = {}
    for i, x, y in zip(cid.tolist(), clon.tolist(), clat.tolist()):
        key = (x, y)
        if key not in loc_min_id or i < loc_min_id[key]:
            loc_min_id[key] = i
    ulon = np.array([k[0] for k in loc_min_id])
    ulat = np.array([k[1] for k in loc_min_id])
    pos_of = dict(zip(cid.tolist(), zip(clon.tolist(), clat.tolist())))
    pid, plon, plat = probes
    bad = []
    if set(got) != set(pid.tolist()):
        bad.append(f"probe set differs: {len(got)} returned vs {len(pid)} probes")
    for s in range(0, len(pid), 512):
        d = _haversine(plon[s : s + 512, None], plat[s : s + 512, None], ulon[None, :], ulat[None, :])
        best = d.min(axis=1)
        for j in range(len(best)):
            p = int(pid[s + j])
            nid = got.get(p)
            if nid is None or nid not in pos_of:
                bad.append(f"probe {p}: nearest {nid} is not a candidate")
                continue
            x, y = pos_of[nid]
            dn = _haversine(plon[s + j], plat[s + j], x, y)
            if dn > best[j] + tol_m or loc_min_id[(x, y)] != nid:
                bad.append(f"probe {p}: got {nid} at {dn:.6f} m, best {best[j]:.6f} m")
    return bad


def simhash_pairs(con, docs) -> set[tuple[int, int, int]]:
    con.register("documents", docs)
    rows = con.execute(simhash_near_dup_pairs_sql()).fetchall()
    con.unregister("documents")
    return {(int(a), int(b), int(h)) for a, b, h in rows}


def minhash_pairs(con, docs) -> set[tuple[int, int]]:
    con.register("documents", docs)
    rows = con.execute(minhash_near_dup_pairs_sql(src="SELECT * FROM documents")).fetchall()
    con.unregister("documents")
    return {(int(a), int(b)) for a, b, _j in rows}


_WS = re.compile(r"[ \t\n\r\f\v]+")


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % (1 << 32)


_BITS = np.arange(32, dtype=np.int64)


def _simhash32(hashes: list[int]) -> int:
    """Bit b is set when more than half of the token hashes have it."""
    h = np.array(hashes, dtype=np.int64)
    votes = ((h[:, None] >> _BITS) & 1).sum(axis=0)
    return int(((2 * votes > len(h)).astype(np.int64) << _BITS).sum())


def wide_simhash_pairs(docs, max_hamming: int = 2) -> set[tuple[int, int, int]]:
    """64-bit SimHash pairs within `max_hamming`, exact: a pair that
    differs in at most 2 bits differs in at most 2 of the 4 16-bit
    bands, so it shares a band, and enumerating every band bucket
    finds it. Fingerprints: majority vote over the distinct
    whitespace tokens of md5-derived 32-bit hashes (`t` for the low
    half, `h|t` for the high half)."""
    fp = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        toks = {t for t in _WS.split(text) if t}
        if not toks:
            continue
        lo = _simhash32([_h32(t) for t in toks])
        hi = _simhash32([_h32("h|" + t) for t in toks])
        fp[int(doc_id)] = (hi << 32) | lo
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for d, v in fp.items():
        for b in range(4):
            buckets[(b, (v >> (16 * b)) & 0xFFFF)].append(d)
    out = set()
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                h = bin(fp[a] ^ fp[b]).count("1")
                if h <= max_hamming:
                    out.add((a, b, h))
    return out


def ivf_topk(con, emb, probe_res: int) -> set[tuple[int, int, float]]:
    """(probe_id, neighbor_id, cos_sim) rows of the IVF top-k twin over
    `emb` (vec_id, embedding, label) for the probes with
    vec_id % 100 == `probe_res`."""
    con.register("embeddings", emb)
    rows = con.execute(ann_ivf_topk_sql(probe_filter=f"vec_id % 100 = {probe_res}")).fetchall()
    con.unregister("embeddings")
    return {(int(p), int(n), float(c)) for p, n, c, _list_id in rows}
