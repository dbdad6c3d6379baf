"""Driver-local query latency at reference scale (VERDICT r5 #3).

The reference claims <100 ms interactive queries "even with >100
terms", measured on its 3.2M-doc MS MARCO index (reference
README.md:756); BENCH/BASELINE.md had only a 20k-doc point for the
LocalIndex session.  This script builds the bench's default-profile
chunked index at --docs (cached under /tmp/iib_localq), loads it into
LocalIndex (the -q session analog: one prep step, then pure
driver-memory answers), and times:

- the bench's 2-term AND and 3-term OR (one ~95%-df heavy list each),
- a 100-term query over rare0000..rare0099 (df ~300 each at 1M docs —
  the realistic query-expansion shape), AND and OR,
- a 104-term all-stopword OR (every MID_TERM is ~60-95% df in this
  tiny-vocabulary synthetic corpus — an adversarial case far BEYOND
  anything a natural-language index serves, reported for honesty).

    python scripts/bench_local_query.py [--docs 1000000] [--reps 5]

Prints one JSON line (latencies in ms, min over --reps after a warm
pass, host canary included).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = "/tmp/iib_localq"


def ensure_index(spark, n_docs: int) -> str:
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    out = os.path.join(WORK, f"idx_{n_docs}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            phases = json.load(f).get("phases", {})
        if phases.get("index", {}).get("status") == "done":
            return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    build(
        spark,
        synthetic_docs_src(spark, n_docs, with_ids=True),
        out,
        merged=False,
    )
    print(f"# built chunks-only idx_{n_docs} in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out


def timed_ms(fn, reps: int) -> float:
    fn()  # warm (page cache for payload arrays, numpy JIT-ish warmup)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--keep", action="store_true",
                    help="keep the cached index (default: kept anyway; "
                         "flag exists for symmetry with bench_bmw)")
    args = ap.parse_args()

    from invertedindexbuilder_spark.benchmetrics import cpu_canary as _cpu_canary
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.session import get_spark

    os.makedirs(WORK, exist_ok=True)
    spark = get_spark(app_name="bench-localq", cores=args.cores,
                      shuffle_partitions=args.cores, task_retries=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = ensure_index(spark, args.docs)
    spark.stop()  # everything below is the driver-local session

    t0 = time.time()
    li = LocalIndex(out)
    load_s = round(time.time() - t0, 2)

    from invertedindexbuilder_spark.sources.docs_src import MID_TERMS

    rare100 = " ".join(f"rare{i:04d}" for i in range(100))
    heavy104 = " ".join(MID_TERMS * 2) + " common rare0007"  # 49*2+2 keys
    suites = {
        "and_2term": ("common rare0007", "and"),
        "or_3term": ("rare0007 rare0123 common", "or"),
        "and_100term_rare": (rare100, "and"),
        "or_100term_rare": (rare100, "or"),
        "or_104term_stopword": (heavy104, "or"),
    }
    row = {
        "n_docs": args.docs,
        "canary_sec": _cpu_canary(),
        "load_s": load_s,
        "n_terms": len(li.terms),
    }
    for name, (q, mode) in suites.items():
        # a dropped result cache makes every rep a miss: decode + score
        row[f"{name}_ms"] = timed_ms(
            lambda q=q, mode=mode: (li.clear_results(),
                                    topk_local(li, q, mode=mode, k=10)),
            args.reps,
        )
    print(json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())
