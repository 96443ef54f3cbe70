"""The benchmark's workloads: generated inputs, the timed call cycle,
and the checks of every output against `oracles`.

Each workload is a closed loop with one client: a *cycle* calls each of
its operators once, on fresh inputs, and waits for each result before
the next call. Inputs are windows of the repository's own generators
(`datasets.images_range`, `documents_range`, `embeddings_range`,
`gps_point_cols`): keys are cut into blocks of `BLOCK` consecutive ids
and window `r` keeps the blocks whose index is `r` mod `CLASSES`. A
window therefore keeps every per-key pattern of the generators (the 30%
hot cell, the k%17 near-duplicate pairs, the 25 embedding clusters all
repeat with a period dividing `BLOCK`), spreads evenly over the scan's
partitions, and shares no key with the other windows, so no call can
reuse work (or a process-wide memo) from an earlier call. The seed picks
the first window, the large polygon layer's layout, the GPS slice and
the IVF probe residue. The warm-up calls read the first cycle's window
through `warmup_inputs`.

A cycle's inputs are materialised into Spark's cache before the cycle
starts and released after it (`prepare` / `release`), so the timed ops
read a scan, as they would read a table, instead of re-running (and
re-compiling) the generators; what the generators cost is reported
apart, as `datasets.<generator>.noop_s`.

Every operator call is one *op*: its eager call(s) into a layer's
public function, then the action that consumes the result. `Tracer`
records a span around each of them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark.operators import ann, dedup, filters, joins

import oracles

BLOCK = 850  # = 2 * 5^2 * 17: a multiple of every generator key period
CLASSES = 8


class Tracer:
    """Spans in memory: id, name, phase, parent id, perf_counter
    start/end and wall-clock start/end. With `sc` set, every span also
    sets the Spark job description "<id>|<name>|<phase>", so each job
    in the event log names the span that caused it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, phase: str, parent: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "phase": phase, "parent": parent}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setJobDescription(f"{sid}|{name}|{phase}")
        rec["epoch_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()
            rec["epoch_end"] = time.time()
            if self.sc:
                self.sc.setJobDescription(prev)

    def durations(self, name: str, phase: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["phase"] == phase]


def _window(df, key: str, cls: int):
    return df.where(F.expr(f"({key} div {BLOCK}) % {CLASSES} = {cls}"))


def _keys_sql(total: int, cls: int) -> str:
    return oracles.block_rows(total, BLOCK, CLASSES, cls)


class Workload:
    name = ""
    # op -> the span whose verify step the op's `yield` counter describes
    yield_spans: dict[str, str] = {}

    def __init__(self, seed: int, nproc: int, tmp: str, scale: float = 1.0):
        self.seed, self.nproc, self.tmp, self.scale = seed, nproc, tmp, scale
        self.outputs: dict[tuple[str, int], object] = {}
        self.spark = None

    def _n(self, n: int) -> int:
        """`n` scaled, rounded to whole blocks (at least one)."""
        return max(1, round(n * self.scale / BLOCK)) * BLOCK

    def cls(self, cycle: int) -> int:
        """Window class of `cycle`."""
        return (self.seed + cycle) % CLASSES

    def register(self, spark) -> None:
        """Input registration: bind the session, build the fixed layers."""
        self.spark = spark

    def generators(self, cycle: int) -> dict:
        """Generator name -> the lazy DataFrame of `cycle`'s input."""
        raise NotImplementedError

    def prepare(self, cycle: int) -> dict:
        """`cycle`'s inputs, materialised in Spark's cache, all at once:
        planning the generators' wide expressions is most of the time."""
        from concurrent.futures import ThreadPoolExecutor

        def materialise(df):
            df = df.persist(StorageLevel.MEMORY_ONLY)
            df.count()
            return df

        gens = self.generators(cycle)
        with ThreadPoolExecutor(len(gens)) as pool:
            return dict(zip(gens, pool.map(materialise, gens.values())))

    def warmup_inputs(self, inputs: dict) -> dict:
        """What the warm-up calls read, given the first timed cycle's
        inputs: the same tables, where no operator keeps state that the
        timed call could reuse."""
        return inputs

    def release(self) -> None:
        """Drop every cached input and whatever an operator left
        persisted, so the next cycle inherits no cache."""
        self.spark.catalog.clearCache()

    def cycle_ops(self, cycle: int, inputs: dict) -> list:
        """The cycle's ops, in call order: (op name, callable taking
        (tracer, op span id) and returning the op's output)."""
        raise NotImplementedError

    def rows_per_cycle(self) -> int:
        raise NotImplementedError

    def keep_for_oracles(self, cycle: int, inputs: dict) -> None:
        """Keep what the oracles of `cycle` need from its cached inputs
        (nothing, when the oracles generate their own copy)."""

    def oracle_job(self, cycle: int) -> tuple:
        """(function, args): a picklable call that returns op -> what
        the oracle says `cycle`'s op must return (after
        `keep_for_oracles(cycle, ...)`)."""
        raise NotImplementedError

    def check(self, op: str, got, exp) -> list[str]:
        """How `got` differs from `exp` (empty when it matches)."""
        return [] if got == exp else [f"differs from the oracle: {_diff(got, exp)}"]


class JoinCalls(Workload):
    """Small spatial queries, one per planner branch of `joins`."""

    name = "join_calls"
    yield_spans = {
        "small_layer_tiles": "joins.pip_join.small_layer",
        "large_layer": "joins.pip_join.large_layer",
    }
    N_SMALL, N_LARGE, N_KNN, N_EVENTS, N_RECTS = 204_000, 102_000, 30_600, 100_000, (75, 60)
    CARRY = ["image_key", "w", "h"]

    def register(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        super().register(spark)
        # the 25-rectangle bench layer is derived from a 25-row `nation`
        # table; write one so datasets.polygons_wkt can read it
        pq.write_table(
            pa.table({"n_nationkey": pa.array(range(25), pa.int64())}),
            f"{self.tmp}/nation.parquet",
        )
        self.polys = D.polygons_wkt(spark, self.tmp)
        self.rects = self._rects()
        self.big = spark.createDataFrame(self.rects[["polygon_id", "wkt"]])

    @property
    def e0(self) -> int:
        """First event id of the run's GPS slice."""
        return (self.seed * 7919) % 1000 * 10_000

    def events_sql(self) -> str:
        return (
            "SELECT range AS event_id, (range * 7919) % 1000 AS user_id, "
            f"to_timestamp(1700000000 + range) AS ts FROM range({self.e0}, {self.e0 + self.N_EVENTS})"
        )

    def _rects(self) -> pd.DataFrame:
        """A grid of jittered rectangles over the image box, one per
        grid cell (more than `pip_join`'s collect threshold, so the
        planner takes the shuffled cells branch). Corners sit 1.7e-6
        off the 1e-5 image coordinate lattice, so no image lies on an
        edge and strict containment is unambiguous."""
        nx, ny = self.N_RECTS
        rng = np.random.RandomState(self.seed)
        cw, ch = 0.4 / nx, 0.4 / ny
        i = np.arange(nx * ny)
        gx, gy = i % nx, i // nx
        x0 = np.round(116.0 + gx * cw + rng.uniform(0, 0.3, i.size) * cw, 5) + 1.7e-6
        y0 = np.round(39.5 + gy * ch + rng.uniform(0, 0.3, i.size) * ch, 5) + 1.7e-6
        x1 = x0 + np.round(rng.uniform(0.3, 0.65, i.size) * cw, 5)
        y1 = y0 + np.round(rng.uniform(0.3, 0.65, i.size) * ch, 5)
        wkt = [
            f"POLYGON (({a!r} {b!r}, {c!r} {b!r}, {c!r} {d!r}, {a!r} {d!r}, {a!r} {b!r}))"
            for a, b, c, d in zip(x0, y0, x1, y1)
        ]
        return pd.DataFrame(
            {"polygon_id": i.astype(np.int64), "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1, "wkt": wkt}
        )

    def _sizes(self) -> tuple[int, int, int]:
        return self._n(self.N_SMALL), self._n(self.N_LARGE), self._n(self.N_KNN)

    def _images(self, n: int, cycle: int):
        return _window(D.images_range(self.spark, CLASSES * n, self.nproc), "image_key", self.cls(cycle))

    def rows_per_cycle(self) -> int:
        return sum(self._sizes())

    def generators(self, cycle: int) -> dict:
        n_small, n_large, n_knn = self._sizes()
        events = self.spark.range(self.e0, self.e0 + self.N_EVENTS, 1, self.nproc).select(
            F.col("id").alias("event_id"),
            ((F.col("id") * 7919) % 1000).alias("user_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        )
        return {
            "images_range": self._images(n_small, cycle),
            "images_range.large": self._images(n_large, cycle),
            "images_range.probes": self._images(n_knn, cycle).select(
                F.col("image_key").alias("probe_id"), "lon", "lat"
            ),
            "gps_points": events.select(*D.gps_point_cols()),
        }

    def cycle_ops(self, cycle: int, inputs: dict) -> list:
        def small_layer_tiles(tracer, op):
            with tracer.span("joins.pip_join.small_layer", "call", op):
                j = joins.pip_join(inputs["images_range"], self.polys, carry_cols=self.CARRY)
            with tracer.span("joins.tile_assignment", "call", op):
                t = joins.tile_assignment(j, res=16)
            with tracer.span("joins.tile_assignment", "action", op):
                rows = (
                    t.groupBy("polygon_id")
                    .agg(F.count("*"), F.countDistinct("image_key"), F.sum("image_key"))
                    .collect()
                )
            return {int(r[0]): (int(r[1]), int(r[2]), int(r[3])) for r in rows}

        def large_layer(tracer, op):
            with tracer.span("joins.pip_join.large_layer", "call", op):
                j = joins.pip_join(inputs["images_range.large"], self.big, carry_cols=["image_key"])
            with tracer.span("joins.pip_join.large_layer", "action", op):
                rows = j.groupBy("polygon_id").agg(F.count("*"), F.sum("image_key")).collect()
            return {int(r[0]): (int(r[1]), int(r[2])) for r in rows}

        def knn(tracer, op):
            with tracer.span("filters.filter_wgs84_points", "call", op):
                cand = filters.filter_wgs84_points(inputs["gps_points"]).select(
                    F.col("point_id").alias("cand_id"), "lon", "lat"
                )
            with tracer.span("joins.knn_join", "call", op):
                r = joins.knn_join(inputs["images_range.probes"], cand)
            with tracer.span("joins.knn_join", "action", op):
                pdf = r.select("probe_id", "nearest_id").toPandas()
            return dict(zip(pdf["probe_id"].astype("int64").tolist(), pdf["nearest_id"].astype("int64").tolist()))

        return [("small_layer_tiles", small_layer_tiles), ("large_layer", large_layer), ("knn", knn)]

    def oracle_job(self, cycle: int) -> tuple:
        keys = [_keys_sql(CLASSES * n, self.cls(cycle)) for n in self._sizes()]
        return _join_calls_expected, (self.nproc, *keys, self.rects.drop(columns="wkt"), self.events_sql())

    def check(self, op: str, got, exp) -> list[str]:
        if op == "knn":
            return oracles.knn_check(exp[0], exp[1], got)
        return super().check(op, got, exp)


class CorpusBatch(Workload):
    """The caption / embedding side of the image table: near-duplicate
    detection and IVF top-k, no spatial join."""

    name = "corpus_batch"
    yield_spans = {
        "simhash": "dedup.simhash_near_dup_pairs",
        "simhash_wide": "dedup.simhash_near_dup_pairs_wide",
        "minhash": "dedup.minhash_near_dup_pairs",
    }
    N_DOCS, N_VECS = 5_100, 10_200

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.oracle_inputs: dict[int, dict] = {}

    def _sizes(self) -> tuple[int, int]:
        return self._n(self.N_DOCS), self._n(self.N_VECS)

    def probe_res(self, cycle: int) -> int:
        return (self.seed * 31 + cycle) % 100

    def rows_per_cycle(self) -> int:
        n_docs, n_vecs = self._sizes()
        return 3 * n_docs + n_vecs

    def generators(self, cycle: int) -> dict:
        n_docs, n_vecs = self._sizes()
        return {
            "documents_range": _window(
                D.documents_range(self.spark, CLASSES * n_docs, self.nproc), "doc_id", self.cls(cycle)
            ),
            "embeddings_range": _window(
                D.embeddings_range(self.spark, CLASSES * n_vecs, self.nproc), "vec_id", self.cls(cycle)
            ),
        }

    def keep_for_oracles(self, cycle: int, inputs: dict) -> None:
        """The generated inputs have no DuckDB twin: keep a copy."""
        self.oracle_inputs[cycle] = {k: df.toPandas() for k, df in inputs.items()}

    def warmup_inputs(self, inputs: dict) -> dict:
        """The dedup kernels memoise token hashes per Python worker, so
        the warm-up reads the documents upper-cased: the same shapes and
        pairs, but not one token the timed calls will hash."""
        docs = inputs["documents_range"]
        return {**inputs, "documents_range": docs.select("doc_id", F.upper("text").alias("text"))}

    def cycle_ops(self, cycle: int, inputs: dict) -> list:
        def pairs(fn, width):
            def op(tracer, sid):
                docs = inputs["documents_range"]
                with tracer.span(f"dedup.{fn.__name__}", "call", sid):
                    r = fn(docs)
                with tracer.span(f"dedup.{fn.__name__}", "action", sid):
                    rows = r.collect()
                if getattr(r, "sig_cache", None) is not None:
                    r.sig_cache.unpersist()
                return {tuple(int(x) for x in row[:width]) for row in rows}

            return op

        def ivf(tracer, sid):
            with tracer.span("ann.ann_ivf_topk", "call", sid):
                r = ann.ann_ivf_topk(
                    inputs["embeddings_range"], probe_filter=f"vec_id % 100 = {self.probe_res(cycle)}"
                )
            with tracer.span("ann.ann_ivf_topk", "action", sid):
                rows = r.select("probe_id", "neighbor_id", "cos_sim").collect()
            if getattr(r, "probes_bc", None) is not None:
                r.probes_bc.destroy()
            return {(int(p), int(nb), float(cos)) for p, nb, cos in rows}

        return [
            ("simhash", pairs(dedup.simhash_near_dup_pairs, 3)),
            ("simhash_wide", pairs(dedup.simhash_near_dup_pairs_wide, 3)),
            ("minhash", pairs(dedup.minhash_near_dup_pairs, 2)),
            ("ivf", ivf),
        ]

    def oracle_job(self, cycle: int) -> tuple:
        kept = self.oracle_inputs.pop(cycle)
        return _corpus_expected, (kept["documents_range"], kept["embeddings_range"], self.probe_res(cycle))

    def check(self, op: str, got, exp) -> list[str]:
        return [] if got == exp else [f"rows differ: {_diff_sets(got, exp)}"]


def _join_calls_expected(nproc, keys_small, keys_large, keys_knn, rects, events_sql) -> dict:
    import duckdb

    with duckdb.connect() as con:
        con.execute(f"SET threads TO {nproc}")
        return {
            "small_layer_tiles": oracles.small_layer_rollup(con, keys_small),
            "large_layer": oracles.large_layer_rollup(con, keys_large, rects),
            "knn": (oracles.probe_points(con, keys_knn), oracles.gps_candidates(con, events_sql)),
        }


def _corpus_expected(docs, emb, probe_res) -> dict:
    """The four oracles run at once, each on its own DuckDB connection
    (a few-thousand-row scan is a single DuckDB task)."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    def on_duckdb(fn, *args):
        with duckdb.connect() as con:
            return fn(con, *args)

    with ThreadPoolExecutor(4) as pool:
        futures = {
            "simhash": pool.submit(on_duckdb, oracles.simhash_pairs, docs),
            "simhash_wide": pool.submit(oracles.wide_simhash_pairs, docs),
            "minhash": pool.submit(on_duckdb, oracles.minhash_pairs, docs),
            "ivf": pool.submit(on_duckdb, oracles.ivf_topk, emb, probe_res),
        }
        return {op: f.result() for op, f in futures.items()}


def _diff(got: dict, exp: dict) -> str:
    keys = sorted(set(got) | set(exp))
    d = [(k, got.get(k), exp.get(k)) for k in keys if got.get(k) != exp.get(k)]
    return f"{len(d)} keys, e.g. {d[:3]}"


def _diff_sets(got: set, exp: set) -> str:
    return f"{len(got - exp)} extra e.g. {sorted(got - exp)[:3]}, {len(exp - got)} missing e.g. {sorted(exp - got)[:3]}"


WORKLOADS = {w.name: w for w in (JoinCalls, CorpusBatch)}
