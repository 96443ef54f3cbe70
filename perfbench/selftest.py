#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size (a few minutes).

    python3 perfbench/selftest.py

Runs the benchmark the way a caller does, as subprocesses, and checks:

1. BENCHMARK.json declares exactly the metrics run.py reports, with the
   same units, and every name fits the declared limits;
2. a traced run of each workload verifies every output and prints, as
   its last line, every per-layer metric with its unit; its record
   carries every end-to-end metric;
3. an untraced run with one oracle answer perturbed prints exactly the
   end-to-end metrics, reports the op as failed and exits 1;
4. a directory holding only BENCHMARK.json and the benchmark's files
   (no engine) makes the command exit non-zero without a result line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench(root: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check_declaration() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS, (e2e, run.E2E_UNITS)
    assert layer == run.per_layer_units(), set(layer) ^ set(run.per_layer_units())
    for name, unit in {**e2e, **layer}.items():
        assert NAME.match(name) and UNIT.match(unit), (name, unit)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()), bounds


def check_traced(workload: str) -> None:
    code, lines = bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", "1", "--scale", "0.05")
    assert code == 0, (workload, code, lines[-2:])
    last, record = json.loads(lines[-1]), json.loads(lines[-2])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, last
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    assert got == run.per_layer_units(), set(got) ^ set(run.per_layer_units())
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    assert set(record["end_to_end"]) == set(run.E2E_UNITS), record["end_to_end"]
    assert all(v > 0 for v in record["end_to_end"].values()), record["end_to_end"]
    print(f"ok   traced {workload}: {len(got)} per-layer metrics, all outputs verified")


def check_perturbed() -> None:
    code, lines = bench(ROOT, "--workload", "join_calls", "--seed", "7", "--seconds", "1",
                        "--trace", "0", "--scale", "0.05", "--perturb-oracle")
    last = json.loads(lines[-1])
    assert code == 1 and not last["correct"] and last["failed"] >= 1, (code, last)
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    assert got == run.E2E_UNITS, got
    print(f"ok   perturbed oracle: exit {code}, {last['failed']} of {last['attempted']} ops failed")


def check_without_engine() -> None:
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench(d, "--workload", "join_calls", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print(f"ok   without the engine: exit {code}, no result line")


def main() -> int:
    check_declaration()
    print("ok   BENCHMARK.json matches run.py")
    check_without_engine()
    check_perturbed()
    for w in ("join_calls", "corpus_batch"):
        check_traced(w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
