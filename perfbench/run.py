#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 15 --trace 0

Run from the repository root. It writes the corpus, then starts the
Spark side (``perfbench/worker.py``) in its own process group inside a
fresh per-run directory under ``perfbench/.runs/``: ``TMPDIR``, Spark's
local dirs and the JVM temp dir point there, and so does the working
directory (the engine's warehouse tables land in it). The repository
root goes on ``PYTHONPATH`` so Spark's Python workers can import the
engine. When the worker ends, every process left in its group is
killed and waited for, and the run directory is deleted.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json,
or its per-layer metrics with ``--trace 1``). The full result, with
run metadata, per-query samples and (traced) the spans, is kept in
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT = 170.0  # seconds for the whole run, build-free
WORKER_GRACE = 25.0  # left after the last timed pass may start


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def kill_group(pgid: int) -> None:
    """SIGKILL a process group and wait until none of it is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    fail(f"processes of group {pgid} did not exit")


def main() -> None:
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "rs_query_engine_spark", "__init__.py")):
        fail(f"engine package rs_query_engine_spark not found under {ROOT}")

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}.json")
    for sub in ("tmp", "cwd", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    base = os.path.join(run_dir, "data", "base")

    sys.path.insert(0, ROOT)
    from perfbench import corpus

    corpus.write(base, cfg["workloads"][args.workload]["scale_factor"], cfg["corpus_seed"])

    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    })
    deadline = TIME_LIMIT - WORKER_GRACE - (time.monotonic() - start)
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", base, "--out", out,
           "--deadline", str(deadline)]
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"), env=env,
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=TIME_LIMIT - (time.monotonic() - start))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        kill_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        fail(f"worker {'timed out' if code is None else f'exited with {code}'}")

    with open(out) as f:
        result = json.load(f)
    if args.trace:
        specs, values = bench["per_layer"], result["layers"]
    else:
        specs, values = bench["end_to_end"], result["summary"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in specs}
    if args.trace:
        width = max(len(m) for m in metrics)
        for name, m in metrics.items():
            print(f"# {name:<{width}} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
