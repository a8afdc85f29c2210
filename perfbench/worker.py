"""Spark side of one benchmark run; ``run.py`` starts it in a fresh
per-run directory. Phases:

1. set-up, ``SETUP_ROUNDS`` times over fresh copies of the corpus:
   table warm-up and the workload's one-time artifact builds (index
   generations, late-arrival stream feeds), called directly;
2. the check pass: every query once, collected and compared with its
   DuckDB oracle. It is also the first code-generation warm-up;
3. timed passes, at least the workload's ``passes`` and until
   ``--seconds`` have been measured: every query in a seed-permuted order, run to
   completion through a ``noop`` write, with ``gc.collect()`` between
   queries outside the timer. ``pass_s`` and ``query_s_p50`` are taken
   from each query's best time over the timed passes, so the first,
   still-warming passes need no separate untimed warm-up.

With ``--trace 1`` the timed passes alternate untraced and traced
(U T T U ...), in whole cycles; traced passes record spans and
per-layer counters.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from perfbench import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
MIN_SAMPLES = stats.TAIL_BEYOND + 1


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def order(names, seed: int, pass_no: int) -> list[str]:
    out = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out


def steal_ticks() -> int:
    """CPU time the host gave to other guests, in clock ticks (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def resolve(ref: str):
    """``"package.module:function"`` -> the function."""
    module, _, name = ref.partition(":")
    return getattr(importlib.import_module(module), name)


def link_copy(src: str, dst: str) -> str:
    """A new path to the same corpus files: artifacts are keyed by path,
    so each set-up round builds them again."""
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


def metadata(spark, args) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "rs_query_engine_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                digest.update(open(os.path.join(base, f), "rb").read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "host_mem_gb": round(mem_kb / 2**20, 2),
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", "(unset)"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit, "engine_sha256": digest.hexdigest(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True, help="corpus directory")
    ap.add_argument("--out", required=True, help="result file to write")
    ap.add_argument("--deadline", type=float, required=True,
                    help="start no timed pass after this many seconds")
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workload = json.load(f)["workloads"][args.workload]

    from rs_query_engine_spark import queries as registry
    from rs_query_engine_spark.session import get_spark
    from rs_query_engine_spark.sources.corpus import TABLES, load_table

    from perfbench.observe import RssSampler, Tracer
    from perfbench.oracle import Oracle

    qs, oracle_sql = registry.queries(), registry.oracle_sql()
    missing = [n for n in workload["queries"] if n not in qs or n not in oracle_sql]
    if missing:
        sys.exit(f"workload {args.workload}: not registered with oracle SQL: {missing}")
    builds = [resolve(ref) for ref in workload["builds"]]

    rss = RssSampler(os.getpid()) if args.trace else None
    if rss:
        rss.start()
    spark = get_spark(app_name="perfbench")
    session_start = time.perf_counter() - PROCESS_START
    meta = metadata(spark, args)
    log(f"session started; {json.dumps(meta)}")

    # 1. set-up rounds; the later passes run on the last round's path
    warm_s, build_s = [], []
    for k in range(SETUP_ROUNDS):
        data = link_copy(args.data, os.path.join(os.path.dirname(args.data), f"r{k}"))
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, data, t).count()
        t1 = time.perf_counter()
        for build in builds:
            build(spark, data)
        warm_s.append(t1 - t0)
        build_s.append(time.perf_counter() - t1)
        log(f"set-up round {k}: tables {warm_s[-1]:.3f}s builds {build_s[-1]:.3f}s")
    setup_s = session_start + statistics.median([w + b for w, b in zip(warm_s, build_s)])

    # 2. check pass (also the code-generation warm-up at the timed scale)
    check_order = order(workload["queries"], args.seed, 0)
    oracle = Oracle(data, TABLES, {n: oracle_sql[n] for n in check_order})
    outcomes: list[str] = []
    collected = {}
    check_s: dict[str, float] = {}
    for name in check_order:
        gc.collect()
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, data)
            collected[name] = (sdf.schema, sdf.columns, [tuple(r) for r in sdf.collect()])
        except Exception as exc:  # counted, reported, and the run goes on
            outcomes.append("raised")
            log(f"check {name}: raised {str(exc)[:300]}")
        finally:
            check_s[name] = time.perf_counter() - t0
    warmup_s = sum(check_s.values())
    for name, (schema, cols, rows) in collected.items():
        diff = oracle.check(name, schema, cols, rows)
        outcomes.append("ok" if diff is None else "mismatch")
        if diff:
            log(f"check {name}: mismatch {diff[:300]}")
    del collected, oracle
    # everything alive now (modules, session, registry) stays alive: keep
    # it out of the collections that run between timed queries
    gc.collect()
    gc.freeze()
    log(f"check pass: {warmup_s:.3f}s in Spark, {outcomes.count('ok')}/{len(outcomes)} ok")

    # 3. timed passes
    tracer = Tracer(spark) if args.trace else None
    kinds = "UTTU" if args.trace else "U"
    passes: list[dict] = []
    qid = 0
    measured = 0.0
    steal0 = steal_ticks()
    while True:
        kind = kinds[len(passes) % len(kinds)]
        if kind == "T":
            tracer.attach(len(passes))
        times: dict[str, float] = {}
        for name in order(workload["queries"], args.seed, len(passes) + 1):
            gc.collect()
            qid += 1
            try:
                if kind == "T":
                    times[name] = traced_query(tracer, qid, name, qs[name], spark, data)
                else:
                    t0 = time.perf_counter()
                    noop(qs[name](spark, data))
                    times[name] = time.perf_counter() - t0
                outcomes.append("ok")
            except Exception as exc:
                outcomes.append("raised")
                log(f"pass {len(passes)} {name}: raised {str(exc)[:300]}")
        p = {"kind": kind, "seconds": sum(times.values()), "queries": times}
        if kind == "T":
            p["layers"] = tracer.detach()
        passes.append(p)
        measured += p["seconds"]
        log(f"pass {len(passes) - 1} ({kind}): {p['seconds']:.3f}s")
        samples = sum(len(q["queries"]) for q in passes if q["kind"] == "U")
        enough = (measured >= args.seconds and samples >= MIN_SAMPLES
                  and len(passes) >= workload["passes"])
        # a traced run ends on a whole U T T U cycle, every traced pass then
        # having an untraced neighbour on each side; and it runs two cycles,
        # so the cold first pass is not one of only two untraced passes
        cycles, rest = divmod(len(passes), len(kinds))
        enough = enough and rest == 0 and (cycles >= 2 or not args.trace)
        if enough or time.perf_counter() - PROCESS_START > args.deadline:
            break

    steal = steal_ticks() - steal0
    plain = [p for p in passes if p["kind"] == "U"]
    walls = [t for p in plain for t in p["queries"].values()]
    # other guests' load comes and goes within a run; a query's best
    # time over the passes is the figure it disturbs least
    best = stats.best_times([p["queries"] for p in plain])
    tail = stats.tail(walls)
    if tail is None:
        sys.exit(f"only {len(walls)} timed samples; the tail needs {MIN_SAMPLES}")
    failed = sum(o != "ok" for o in outcomes)
    summary = {
        "setup_s": setup_s,
        "pass_s": sum(best.values()),
        "query_s_p50": statistics.median(best.values()),
        "query_s_tail": tail[0],
    }
    log(f"{args.workload}: setup_s {setup_s:.3f} s, pass_s {summary['pass_s']:.3f} s, "
        f"query_s_p50 {summary['query_s_p50']:.4f} s, "
        f"query_s_tail {summary['query_s_tail']:.4f} s "
        f"(p{tail[1]}, {tail[2]} samples beyond, "
        f"{len(walls)} samples), failed_frac {stats.failed_frac(outcomes):.4f} ratio "
        f"({failed} of {len(outcomes)} attempted); {steal} steal ticks while timed")
    result = {
        "meta": meta,
        "attempted": len(outcomes), "failed": failed,
        "failed_frac": stats.failed_frac(outcomes),
        "correct": failed == 0,
        "summary": summary,
        "tail": {"percentile": tail[1], "beyond": tail[2], "samples": len(walls)},
        "best_s": best, "steal_ticks": steal,
        "setup": {"session_start_s": session_start, "table_warm_s": warm_s,
                  "artifact_build_s": build_s, "warmup_s": warmup_s, "check_s": check_s},
        "passes": passes,
    }
    if tracer:
        result["layers"] = layer_table(passes, result, rss.stop())
        result["spans"] = tracer.spans
    with open(args.out, "w") as f:
        json.dump(result, f)
    t0 = time.perf_counter()
    spark.stop()
    log(f"spark.stop: {time.perf_counter() - t0:.3f}s")


def traced_query(tracer, qid, name, fn, spark, data) -> float:
    """One query with a span per phase; returns its wall time."""
    tracer.begin(qid)
    t0 = time.time()
    df = fn(spark, data)
    t1 = time.time()
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    noop(df)
    t3 = time.time()
    q = tracer.span("query", qid, None, t0, t3, query_name=name)
    phases = {
        "queries.build": tracer.span("queries.build", qid, q, t0, t1),
        "plans.plan": tracer.span("plans.plan", qid, q, t1, t2),
        "operators.exec": tracer.span("operators.exec", qid, q, t2, t3),
    }
    tracer.end(qid, q, phases)
    return t3 - t0


def best_pass_s(passes) -> float:
    return sum(stats.best_times([p["queries"] for p in passes]).values())


def layer_table(passes, result, peak_rss_mb) -> dict[str, float]:
    """Per-layer metrics: medians over traced passes of per-pass totals,
    then the set-up side and the tracing overhead."""
    traced = [p for p in passes if p["kind"] == "T"]
    plain = [p for p in passes if p["kind"] == "U"]
    keys = sorted({k for p in traced for k in p["layers"]})
    table = {k: statistics.median([p["layers"].get(k, 0.0) for p in traced]) for k in keys}
    setup = result["setup"]
    table.update({
        "session.start_s": setup["session_start_s"],
        "session.peak_rss_mb": peak_rss_mb,
        "sources.table_warm_s": statistics.median(setup["table_warm_s"]),
        "sources.artifact_build_s": statistics.median(setup["artifact_build_s"]),
        "queries.warmup_s": setup["warmup_s"],
        "trace.overhead_s": best_pass_s(traced) - best_pass_s(plain),
    })
    return table


if __name__ == "__main__":
    main()
