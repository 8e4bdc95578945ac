"""Benchmark for the zhtml_spark extraction engine.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 10 --trace 0

Workloads: ``extract_job``, ``crawl_curate`` (see README.md).  With ``--trace 0`` the last line of standard output is one
JSON object with the end-to-end metrics; with ``--trace 1`` it holds
the per-layer metrics instead.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let executor Python workers import the checkout's package."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    sys.path[:0] = [root, HERE]


def timed_region(spark, wl, seconds: float, first_round: int):
    """``wl.rounds_for(seconds)`` whole rounds; returns each round's
    wall seconds, each round's CPU seconds and the sampler."""
    import gc

    from proctree import TreeSampler

    # every region starts from a collected heap on both sides
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    rounds = wl.rounds_for(seconds)
    walls, cpus = [], []
    with TreeSampler() as sampler:
        for k in range(first_round, first_round + rounds):
            t0 = time.perf_counter()
            wl.run_round(spark, k)
            walls.append(time.perf_counter() - t0)
            cpus.append(sampler.lap())
    return walls, cpus, sampler


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_job", "crawl_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "zhtml_spark", "pipeline.py")):
        _fail("run from the root of a checkout: zhtml_spark/ not found")
    from workloads import WORKLOADS

    wl_class = WORKLOADS[args.workload]
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - wl_class.SPARE_CORES))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(root, work)
    try:
        result = run(args, wl_class, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(args, wl_class, work: str, cores: int) -> dict:
    from proctree import canary, process_age_s

    wl = wl_class(args.seed, work, cores)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    from zhtml_spark.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(app=f"perfbench-{args.workload}", cores=cores)
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        first = wl.warmup(spark, 0)                 # untimed warm-up
        setup_s = process_age_s() - gen_s
        print(f"# setup {setup_s:.2f}s (session start {session_start_s:.2f}s, "
              f"inputs generated in {gen_s:.2f}s, not counted)")
        print(f"# canary before: {json.dumps(canary(spark))}")
        seconds = args.seconds / 2 if args.trace else args.seconds
        walls, cpus, sampler = timed_region(spark, wl, seconds, first)
        print(f"# canary after: {json.dumps(canary(spark))}")
        rounds, wall = range(first, first + len(walls)), sum(walls)
        docs = len(rounds) * wl.docs_per_round
        # every round is the same work, and rounds still speed up from
        # one to the next: the fastest round is the run's value (over 20
        # runs its spread was 0.12-0.15 against 0.15-0.23 for the median)
        docs_per_s = wl.docs_per_round / min(walls)
        print(f"# round walls {[round(w, 3) for w in walls]} s, round CPU "
              f"{[round(c, 2) for c in cpus]} s; whole region: "
              f"{docs / wall:.4g} docs/s, {sampler.cpu_s / docs * 1000:.4g} "
              "CPU s/kdoc")
        res = wl.check(spark, rounds)
        failed = len(res.failed)
        for why, n in sorted(res.problems.items()):
            print(f"# check failed: {why} x{n}")
        print(f"# {args.workload}: {len(rounds)} rounds, {docs} documents in "
              f"{wall:.2f}s, {failed} failed")
        if args.trace:
            import trace_layers

            metrics = trace_layers.traced(
                spark, wl, work, cores, untraced_docs_per_s=docs_per_s,
                session_start_s=session_start_s, seconds=seconds,
                peak_rss_mb=sampler.peak_rss_mb)
        else:
            # peak RSS is printed, not gated: the JVM's share of it swung
            # 2.4-3.4 GB between identical runs (see README)
            print(f"# peak_rss_mb {sampler.peak_rss_mb:.1f} MB")
            metrics = {
                "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
                "cpu_s_per_kdoc": {
                    "value": min(cpus) / wl.docs_per_round * 1000,
                    "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        (active or spark).stop()
        _stop_gateway()
    return {"correct": failed == 0, "attempted": docs, "failed": failed,
            "metrics": metrics}


def _stop_gateway() -> None:
    """End the gateway JVM (and the Python workers under it) and wait
    for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as exc:  # noqa: BLE001 — best effort at exit
        print(f"# gateway shutdown: {exc!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    main()
