#!/usr/bin/env python3
"""Benchmark of the util_gis_spark engine: one named workload per run.

    python3 perfbench/run.py --workload join_calls --seed 1 --seconds 5 --trace 0

Run it from the repository root (any directory works; it locates the
engine next to this directory). One process, one client, `local[n]`
with `n` = the CPUs this process may use. The run:

1. starts the session once, which launches the JVM, then sets it up
   `SETUP_WARMUP` + `SETUP_REPS` more times (`get_spark` after stopping
   the previous session, then input registration) -> `setup_s`, the
   median of the last `SETUP_REPS` (the first ones still warm up the
   JVM's compiler);
2. materialises the first cycle's inputs and calls every op once on
   them (the workload's warm-up view), one after another, so JVM
   classes, code generation and Python workers are loaded; meanwhile a
   Python process of its own computes the first cycle's oracle answers;
3. runs whole cycles (every op once, on fresh inputs), each once the
   process tree is idle and with the tree's peak-RSS marks reset,
   until `--seconds` have passed -> the end-to-end metrics;
4. computes the oracles' answers for the other cycles;
5. with `--trace 1`: restarts the session with Spark's event log on,
   warms up again, runs the same cycles with a job description per
   span, materialises each input into a noop sink, and folds the log
   into per-span counters -> the per-layer metrics;
6. checks every output (and, traced, that the traced outputs equal the
   untraced ones) against the oracles' answers, outside every timed
   region.

The last stdout line is one JSON object: correct / attempted / failed /
metrics. The line before it carries the whole record (environment,
samples, failures); the record and the spans are also written to
`.perfbench_out/`. Exit code 0 when every output is correct, 1 when
one is not, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_WARMUP, SETUP_REPS = 1, 5

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "images_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

_FULL = ("jobs", "executor_cpu_s", "shuffle_bytes", "python_s", "python_bytes", "task_skew", "driver_s")
# span -> {phase: event-log counters reported for it}; every span also
# reports `call_s`, and `action_s` when it has an action phase. A
# counter that is structurally zero for a span is not listed.
SPAN_COUNTERS = {
    "joins.pip_join.small_layer": {"call": ("jobs", "driver_bytes")},
    "joins.tile_assignment": {
        "call": (),
        "action": ("jobs", "executor_cpu_s", "gc_s", "shuffle_bytes", "driver_bytes", "task_skew", "driver_s"),
    },
    "joins.pip_join.large_layer": {
        "call": ("jobs", "executor_cpu_s", "python_s"),
        "action": _FULL + ("driver_bytes",),
    },
    "filters.filter_wgs84_points": {"call": ()},
    "joins.knn_join": {
        "call": ("jobs", "driver_bytes"),
        "action": ("jobs", "executor_cpu_s", "python_s", "driver_bytes", "task_skew", "driver_s"),
    },
    "dedup.simhash_near_dup_pairs": {"call": (), "action": _FULL},
    "dedup.simhash_near_dup_pairs_wide": {"call": (), "action": _FULL},
    "dedup.minhash_near_dup_pairs": {"call": (), "action": _FULL},
    "ann.ann_ivf_topk": {
        "call": ("jobs", "executor_cpu_s", "python_s", "driver_bytes"),
        "action": _FULL + ("gc_s", "driver_bytes"),
    },
}
YIELD_SPANS = (
    "joins.pip_join.small_layer",
    "joins.pip_join.large_layer",
    "dedup.simhash_near_dup_pairs",
    "dedup.simhash_near_dup_pairs_wide",
    "dedup.minhash_near_dup_pairs",
)
NOOP_INPUTS = ("images_range", "gps_points", "documents_range", "embeddings_range")


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("bytes"):
        return "B"
    return {"jobs": "count"}.get(counter, "ratio")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {
        "session.get_spark.call_s": "s",
        "session.get_spark.cold_s": "s",
        "setup.warmup_s": "s",
    }
    out.update({f"datasets.{g}.noop_s": "s" for g in NOOP_INPUTS})
    for span, phases in SPAN_COUNTERS.items():
        for phase in phases:
            out[f"{span}.{phase}_s"] = "s"
        for phase, counters in phases.items():
            for c in counters:
                out[f"{span}.{phase}.{c}"] = _unit(c)
        if span in YIELD_SPANS:
            out[f"{span}.yield"] = "ratio"
    out["trace.overhead_s"] = "s"
    return out


# --------------------------------------------------------------- processes
_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    """`root` and all its live descendants (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """utime+stime of the process tree, including reaped children."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak_rss() -> None:
    """Set every tree process's VmHWM to its current resident set, so
    `peak_rss_by_process` reports the peak from here on."""
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def peak_rss_by_process() -> dict[str, float]:
    """"<pid> <name>" -> VmHWM (peak resident set, MB) of each process
    of the tree since the last `reset_peak_rss`."""
    out = {}
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[f"{pid} {status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return out


def settle(max_s: float = 8.0, idle_cores: float = 0.3, step: float = 0.25) -> float:
    """Wait until the process tree is nearly idle (background JIT
    compilation and GC left over from set-up have drained) or `max_s`
    have passed, so that work does not spill into a timed cycle.
    Returns the wait."""
    t0 = time.perf_counter()
    last = cpu_seconds()
    while time.perf_counter() - t0 < max_s:
        time.sleep(step)
        now = cpu_seconds()
        if now - last < idle_cores * step:
            break
        last = now
    return time.perf_counter() - t0


class OracleProcess:
    """`fn(*args)` computed by a Python process of its own, started at
    once; `result()` waits for it to end."""

    CODE = (
        "import pickle, sys; sys.path[:0] = sys.argv[1:3]; "
        "fn, args = pickle.load(open(sys.argv[3], 'rb')); "
        "pickle.dump(fn(*args), open(sys.argv[3], 'wb'))"
    )

    def __init__(self, path: str, fn, args):
        import pickle
        import subprocess

        self.path = path
        with open(path, "wb") as fh:
            pickle.dump((fn, args), fh)
        self.proc = subprocess.Popen([sys.executable, "-c", self.CODE, HERE, ROOT, path])

    def result(self):
        import pickle

        if self.proc.wait() != 0:
            raise RuntimeError(f"oracle process exited with code {self.proc.returncode}")
        with open(self.path, "rb") as fh:
            return pickle.load(fh)


# ------------------------------------------------------------- environment
def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        return 2
    return max(1, min(4, kb // (4 << 20)))


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "util_gis_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------- run
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _perturbed(exp):
    """A copy of an oracle answer with one entry added (self-test)."""
    if isinstance(exp, dict):
        return {**exp, -1: {}}
    return exp | {(-1, -1, -1)}


class Run:
    def __init__(self, args, tmp: str):
        from workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        self.nproc = _cpus()
        self.wl = WORKLOADS[args.workload](args.seed, self.nproc, tmp, args.scale)
        self.conf = {
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None
        self.prepared: dict[int, dict] = {}  # cycle -> cached inputs
        self.expected: dict[int, dict] = {}  # cycle -> op -> oracle answer
        self.settles: list[float] = []  # idle waits before timed cycles
        self.warmup_ops: dict[str, float] = {}  # input preparation / op -> warm-up wall time
        self.cycle_rss: list[dict] = []  # per timed cycle: process -> peak RSS MB
        self.attempted = 0
        self.errors: dict[tuple[str, int], list[str]] = {}

    def start(self, extra: dict | None = None) -> tuple[float, float]:
        """(session start s, session start + input registration s)."""
        from util_gis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.wl.name}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={**self.conf, **(extra or {})},
        )
        t1 = time.perf_counter()
        self.wl.register(self.spark)
        return t1 - t0, time.perf_counter() - t0

    def warm_up(self) -> float:
        """Prepare the first timed cycle's inputs, then call every op
        once, one after another, on the workload's warm-up view of them,
        so JVM class loading, code generation, Python worker start-up
        and Arrow set-up are done before the timed cycles. Meanwhile a
        process of its own computes the first cycle's oracle answers;
        it has ended before the timed cycles start. Returns the wall
        time; the warm-up outputs are not kept."""
        from workloads import Tracer

        t0 = time.perf_counter()
        self.prepared[0] = self.wl.prepare(0)
        self.warmup_ops["prepare"] = time.perf_counter() - t0
        oracle = None
        if 0 not in self.expected:
            self.wl.keep_for_oracles(0, self.prepared[0])
            oracle = OracleProcess(os.path.join(self.tmp, "oracle-0.pickle"), *self.wl.oracle_job(0))
        for op, fn in self.wl.cycle_ops(-1, self.wl.warmup_inputs(self.prepared[0])):
            t1 = time.perf_counter()
            fn(Tracer(), None)
            self.warmup_ops[op] = time.perf_counter() - t1
        if oracle is not None:
            self.expected[0] = oracle.result()
        return time.perf_counter() - t0

    def cycles(self, tracer, n_cycles: int | None = None) -> tuple[list[float], list[float], list[float]]:
        """Run `n_cycles` cycles, or whole cycles until they add up to
        `--seconds`. Returns each cycle's wall time, process-tree CPU
        time and process-tree peak RSS (input preparation is outside
        all three); outputs land in `self.wl.outputs`, exceptions in
        `self.errors`."""
        from workloads import CLASSES

        walls, cpus, rss, c = [], [], [], 0
        while True:
            inputs = self.prepared.pop(c, None) or self.wl.prepare(c)
            self.settles.append(settle())
            reset_peak_rss()
            cpu0 = cpu_seconds()
            with tracer.span("cycle", "cycle") as cid:
                for op, fn in self.wl.cycle_ops(c, inputs):
                    self.attempted += 1
                    with tracer.span(f"op.{op}", "op", cid) as sid:
                        try:
                            self.wl.outputs[(op, c)] = fn(tracer, sid)
                        except Exception:  # an op that raises is a failed op
                            self.errors[(op, c)] = [traceback.format_exc(limit=3)]
            cpus.append(cpu_seconds() - cpu0)
            self.cycle_rss.append(peak_rss_by_process())
            rss.append(sum(self.cycle_rss[-1].values()))
            walls.append(tracer.spans[cid]["end"] - tracer.spans[cid]["start"])
            if c not in self.expected:
                self.wl.keep_for_oracles(c, inputs)
            self.wl.release()
            c += 1
            if n_cycles is not None:
                if c >= n_cycles:
                    return walls, cpus, rss
            elif sum(walls) >= self.args.seconds or c >= CLASSES:
                return walls, cpus, rss

    def execute(self) -> dict:
        from workloads import Tracer

        load_start = os.getloadavg()
        marks = {"start": time.perf_counter()}
        cold_s, _total = self.start()
        for _ in range(SETUP_WARMUP):
            self.start()
        setups, sessions = [], []
        for _ in range(SETUP_REPS):
            s, total = self.start()
            sessions.append(s)
            setups.append(total)
        marks["setup"] = time.perf_counter()
        cpu0 = cpu_seconds()
        warmup_s = self.warm_up()
        warmup_cpu_s = cpu_seconds() - cpu0
        marks["warmup"] = time.perf_counter()

        tracer = Tracer()
        walls, cpus, rss = self.cycles(tracer)
        marks["cycles"] = time.perf_counter()
        n_cycles = len(walls)
        for c in range(n_cycles):
            if c not in self.expected:
                fn, args = self.wl.oracle_job(c)
                self.expected[c] = fn(*args)
        marks["oracles"] = time.perf_counter()
        calls = [s["end"] - s["start"] for s in tracer.spans if s["phase"] == "op"]
        e2e = {
            "setup_s": _median(setups),
            "wall_s": _median(walls),
            "images_per_s": self.wl.rows_per_cycle() * n_cycles / sum(walls),
            "cpu_s": _median(cpus),
            "peak_rss_mb": _median(rss),
        }
        record = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "scale": self.args.scale,
            "nproc": self.nproc,
            "driver_memory_gb": _driver_mem_gb(),
            "cycles": n_cycles,
            "call_walls_s": calls,
            "cycle_walls_s": walls,
            "setup_reps_s": setups,
            "session_start_reps_s": sessions,
            "session_cold_start_s": cold_s,
            "cycle_peak_rss_mb": rss,
            "cycle_peak_rss_by_process_mb": self.cycle_rss[:n_cycles],
            "warmup_s": warmup_s,
            "warmup_cpu_s": warmup_cpu_s,
            "warmup_ops_s": self.warmup_ops,
            "settle_s": self.settles,
            "untraced_spans": tracer.spans,
            "end_to_end": e2e,
        }
        untraced = dict(self.wl.outputs)
        if self.args.trace:
            record["per_layer"], record["traced_spans"] = self.traced(
                n_cycles, tracer, walls, sessions, cold_s, warmup_s
            )
            # how much of each traced cycle the op spans account for
            spans = record["traced_spans"]
            op_s = sum(s["end"] - s["start"] for s in spans if s["phase"] == "op")
            cycle_s = sum(s["end"] - s["start"] for s in spans if s["phase"] == "cycle")
            record["traced_op_share"] = op_s / cycle_s
            for key, out in self.wl.outputs.items():
                if key in untraced and untraced[key] != out:
                    self.errors.setdefault(key, []).append("traced output differs from the untraced one")
            marks["traced"] = time.perf_counter()
        self.wl.outputs = untraced
        perturb = self.args.perturb_oracle
        for (op, c), got in sorted(untraced.items()):
            exp = self.expected[c][op]
            if perturb and isinstance(exp, (dict, set)):
                exp, perturb = _perturbed(exp), False
            errs = self.wl.check(op, got, exp)
            if errs:
                self.errors.setdefault((op, c), []).extend(errs)
        marks["verify"] = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        names = list(marks)
        record["phase_s"] = {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}
        record["loadavg"] = {"start": load_start, "end": os.getloadavg()}
        return record

    def traced(self, n_cycles, untraced_tracer, untraced_walls, sessions, cold_s, warmup_s):
        import eventlog
        from workloads import Tracer

        log_dir = os.path.join(self.tmp, "events")
        os.makedirs(log_dir)
        self.start(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                # Spark 4 rolls the log into a directory of files by default
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        self.warm_up()
        self.wl.outputs.clear()
        tracer = Tracer(self.spark.sparkContext)
        walls, _cpus, _rss = self.cycles(tracer, n_cycles=n_cycles)
        traced_outputs = dict(self.wl.outputs)
        for name, df in self.wl.generators(0).items():
            if name not in NOOP_INPUTS:
                continue
            with tracer.span(f"datasets.{name}", "noop"):
                df.write.format("noop").mode("overwrite").save()
        self.spark.stop()  # flushes the event log
        self.spark = None
        table = eventlog.fold(eventlog.read_events(log_dir))
        self.wl.outputs = traced_outputs

        metrics = {name: 0.0 for name in per_layer_units()}
        metrics["session.get_spark.call_s"] = _median(sessions)
        metrics["session.get_spark.cold_s"] = cold_s
        metrics["setup.warmup_s"] = warmup_s
        metrics["trace.overhead_s"] = _median(walls) - _median(untraced_walls)
        for span, phases in SPAN_COUNTERS.items():
            for phase in phases:
                metrics[f"{span}.{phase}_s"] = _median(untraced_tracer.durations(span, phase))
        per_call: dict[str, list[float]] = {}
        op_counts: dict[int, dict] = {}
        for s in tracer.spans:
            row = table.get(f"{s['id']}|{s['name']}|{s['phase']}")
            if s["phase"] == "noop":
                per_call.setdefault(f"{s['name']}.noop_s", []).append(s["end"] - s["start"])
            if row is None:
                continue
            if s["parent"] is not None and "candidates" in row:
                acc = op_counts.setdefault(s["parent"], {"verified": 0, "candidates": 0})
                acc["verified"] += row["verified"]
                acc["candidates"] += row["candidates"]
            wanted = SPAN_COUNTERS.get(s["name"], {}).get(s["phase"], ())
            for c in wanted:
                if c == "driver_s":
                    jobs_s = eventlog.union_ms(row["job_intervals"]) / 1e3
                    v = (s["epoch_end"] - s["epoch_start"]) - jobs_s
                else:
                    v = row.get(c, 0.0)
                per_call.setdefault(f"{s['name']}.{s['phase']}.{c}", []).append(v)
        for op_sid, acc in op_counts.items():
            op = tracer.spans[op_sid]["name"].removeprefix("op.")
            span = self.wl.yield_spans.get(op)
            if span and acc["candidates"]:
                per_call.setdefault(f"{span}.yield", []).append(acc["verified"] / acc["candidates"])
        for name, vals in per_call.items():
            if name in metrics:
                metrics[name] = _median(vals)
        return metrics, tracer.spans


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (the
    Python workers the JVM forks, when the JVM ends before them), so
    `_end_descendants` can see them and wait for them."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after `grace_s`."""
    me, sig = os.getpid(), signal.SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # reap every child that has ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        live = [pid for pid in _tree(me) if pid != me]
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _stop_jvm() -> None:
    """End the JVM that pyspark launched, and wait for it: it exits when
    its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    ap.add_argument(
        "--perturb-oracle",
        action="store_true",
        help="self-test: alter one oracle answer, so the run must report a failure",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "util_gis_spark", "session.py")):
        print(f"perfbench: no util_gis_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    # Spark, the JVM and Python workers keep their scratch files inside
    # the run's directory; workers import the engine from ROOT whatever
    # their working directory. All of it is read when the JVM launches.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_mem_gb()}g"

    # a SIGTERM ends the run through the clean-up below, like an error
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    _become_subreaper()
    run = Run(args, tmp)
    try:
        record = run.execute()
    finally:
        try:
            if run.spark is not None:
                run.spark.stop()
            _stop_jvm()
        finally:
            _end_descendants()
            shutil.rmtree(tmp, ignore_errors=True)

    import pyspark

    record.update(
        {
            "git_commit": _git_commit(),
            "source_digest": _source_digest(),
            "spark_version": pyspark.__version__,
            "python_version": sys.version.split()[0],
            "attempted": run.attempted,
            "failed": len(run.errors),
            "failed_frac": len(run.errors) / max(run.attempted, 1),
            "failures": {f"{op}@{c}": e for (op, c), e in sorted(run.errors.items())},
        }
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for name, errs in record["failures"].items():
        print(f"perfbench: FAILED {name}: {errs[0][:2000]}", file=sys.stderr)
    values = record["per_layer"] if args.trace else record["end_to_end"]
    units = per_layer_units() if args.trace else E2E_UNITS
    summary = {k: v for k, v in record.items() if not k.endswith("spans")}
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": not run.errors,
                "attempted": run.attempted,
                "failed": len(run.errors),
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
