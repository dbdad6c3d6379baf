"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Prints a detail line (workload metrics, host canaries, sample counts)
and, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench/`` in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(REPO, ".perfbench")


def _isolate_spark_files() -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and
    run the engine with its default settings."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the engine's own driver-memory default and parquet catalog,
    # whatever the shell sets
    for var in ("SPARK_DRIVER_MEM", "ICEBERG_CATALOG"):
        os.environ.pop(var, None)
    # every JVM, the launcher that spark-submit starts first included:
    # no perf-data files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _start_spark(cores: int):
    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _untraced_record(workload: str, seed: int) -> dict | None:
    """The most recent untraced run of ``workload`` in this checkout,
    preferring one with the same seed."""
    recs = []
    for p in glob.glob(os.path.join(STATE, "runs", f"{workload}-*.json")):
        with open(p) as f:
            rec = json.load(f)
        if not rec["trace"]:
            recs.append((rec["seed"] == seed, os.path.getmtime(p), rec))
    return max(recs, key=lambda r: r[:2])[2] if recs else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-base", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.workload and not args.make_base:
        ap.error("--workload is required")

    # import the engine and the perfbench package from the checkout root,
    # not from this script's directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p) != here]
    _isolate_spark_files()
    try:
        import invertedindexbuilder_spark  # noqa: F401
        import tests.oracle_util  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here ({e})", file=sys.stderr)
        return 2

    from invertedindexbuilder_spark.benchmetrics import cpu_canary, cpu_canary_mt
    from perfbench.trace import PER_LAYER_UNITS, Tracer
    from perfbench.workloads import E2E_UNITS, WORKLOADS, Ctx, make_base

    cores = len(os.sched_getaffinity(0))
    if args.make_base:
        spark = _start_spark(cores)
        try:
            make_base(spark, args.make_base)
        finally:
            _stop_spark(spark)
        return 0

    t_run = time.perf_counter()
    canary_start = {"cpu_canary_s": cpu_canary(reps=1),
                    "cpu_canary_mt_s": cpu_canary_mt(threads=cores, reps=1)}
    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(cores, args.seed, args.seconds, tracer, work, os.path.join(STATE, "cache"), REPO)
    setup, prepare, run = WORKLOADS[args.workload]
    try:
        with tracer.patched():
            quiet = setup(ctx)
            ctx.phase("setup")
            with ThreadPoolExecutor(max_workers=1) as pool:
                prepared = pool.submit(prepare, ctx)
                t0 = time.perf_counter()
                ctx.spark = _start_spark(cores)
                session_start_s = time.perf_counter() - t0
            tracer.attach(ctx.spark)
            prep = prepared.result()
            ctx.phase("start")
            result = run(ctx, quiet, prep)
        per_layer = tracer.layer_metrics(cores, result.extras) if args.trace else None
    finally:
        if ctx.spark is not None:
            tracer.release()
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.phase("stop")
    canary_end = {"cpu_canary_s": cpu_canary(reps=1),
                  "cpu_canary_mt_s": cpu_canary_mt(threads=cores, reps=1)}
    ctx.timeline["total"] = time.perf_counter() - t_run

    out = ctx.outcomes
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "canary": {"start": canary_start, "end": canary_end},
        "session_start_s": session_start_s,
        "timeline_s": ctx.timeline,
        "failed_op_share": out.failed_share,
        "failures": out.failures[:20],
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result.e2e.items()},
        "workload_metrics": result.detail,
    }
    if args.trace:
        base = _untraced_record(args.workload, args.seed)
        detail["tracing_overhead"] = (
            {k: v / base["end_to_end"][k]["value"] - 1.0 for k, v in result.e2e.items()}
            if base else "unavailable: no untraced run of this workload in this checkout")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = detail["end_to_end"]
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}.json"),
              "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
