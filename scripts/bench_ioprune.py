"""Measure the candidate pass's chunk scan filter in its winning
regime (BENCH/SCALE.md "needle campaign").

The synthetic bench corpus has no genuinely rare terms (its rare class
sits at df ~ 3e-4·N — thousands of candidates at 30M docs, one per
chunk, so chunk-granule skipping correctly never engages).  The
reference's real workload (MS MARCO query terms) is full of df-10..100
terms, so this bench PLANTS one: a df-``--needle-df`` term with one
posting every n_docs/df docs (worst-case scatter), encoded as one
ordinary chunk row read alongside the untouched chunk table.  Against
it we run the OR and AND quartets (pruned vs full) and report walls +
JVM bytes; ``--cold`` drops the page cache before every rep.

    python scripts/bench_ioprune.py --index /tmp/iib_bmw/idx_30000000 \
        --stopword common --cold --reps 2

The pruned OR path must auto-engage (the r7 rare-candidate auto rule);
the script asserts result identity between pruned and full before
timing, and prints the chunks_kept/chunks_total engage proof of the
auto OR and the forced AND.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True,
                    help="chunked build root (needs index_chunks + docs "
                         "+ stats)")
    ap.add_argument("--stopword", default="common",
                    help="existing heavy term to pair with the needle")
    ap.add_argument("--needle-df", type=int, default=12)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from invertedindexbuilder_spark.benchmetrics import (
        JvmIOMeter,
        cpu_canary,
        drop_page_cache,
    )
    from invertedindexbuilder_spark.operators.index_build import encode_chunks
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="bench-ioprune", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    stats = load_stats(spark, args.index)
    n_docs = int(stats["n_docs"])
    docs = spark.read.parquet(
        os.path.join(args.index, "docs")).select("doc_id", "doc_len")

    # plant the needle as one ordinary chunk row, worst-case scattered
    step = n_docs // args.needle_df
    ids = [17 + i * step for i in range(args.needle_df)]
    needle_dir = os.path.join(args.index, "_needle_chunk")
    postings = spark.createDataFrame(
        [("needle00", i, 1) for i in ids], "term string, doc_id long, tf long"
    )
    encode_chunks(postings, salt_threshold=1 << 30).coalesce(1) \
        .write.mode("overwrite").parquet(needle_dir)
    chunks = spark.read.parquet(
        os.path.join(args.index, "index_chunks"), needle_dir)
    query = f"needle00 {args.stopword}"

    def run(mode, counters=None, **kw):
        return topk_bm25_chunked(
            spark, chunks, docs, stats, query, mode=mode, k=args.k,
            counters=counters, **kw
        ).collect()

    # identity + engage proof before any timing (auto must engage)
    counters: dict = {}
    and_counters: dict = {}
    key = lambda rows: [(r["doc_id"], round(r["score"], 6)) for r in rows]
    assert key(run("or", counters=counters)) == key(
        run("or", or_prune=False)), "OR pruned != full"
    assert key(run("and", counters=and_counters, and_prune=True)) == key(
        run("and", and_prune=False)), "AND pruned != full"
    assert counters.get("chunks_total", 0) > 0, \
        "auto rule failed to engage the scan prune"

    io = JvmIOMeter()
    out = {
        "n_docs": n_docs, "needle_df": args.needle_df,
        "stopword": args.stopword, "cold": bool(args.cold),
        "chunks_kept": counters.get("chunks_kept"),
        "chunks_total": counters.get("chunks_total"),
        "and_chunks_kept": and_counters.get("chunks_kept"),
        "and_chunks_total": and_counters.get("chunks_total"),
        "canary_sec": cpu_canary(1),
    }
    for name, mode, kw in (
        ("or_pruned", "or", {}),           # auto engages
        ("or_full", "or", {"or_prune": False}),
        ("and_pruned", "and", {"and_prune": True}),
        ("and_full", "and", {"and_prune": False}),
    ):
        best, bio = float("inf"), None
        for _ in range(args.reps):
            if args.cold and not drop_page_cache():
                print("# --cold requested but drop_caches unavailable",
                      file=sys.stderr)
            io.delta()
            t0 = time.time()
            run(mode, **kw)
            dt = time.time() - t0
            d = io.delta()
            if dt < best:
                best, bio = dt, d
        out[name] = round(best, 2)
        out[f"{name}_rchar_mb"] = round(bio["rchar"] / 1e6, 1)
        out[f"{name}_disk_mb"] = round(bio["read_bytes"] / 1e6, 1)
    out["canary_sec_end"] = cpu_canary(1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
