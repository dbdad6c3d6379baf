"""Measure the OR/AND candidate-pass wall-clock crossover (VERDICT r3 #2).

The candidate pass (query_exec.candidate_pass) is exact and
decode-skipping by construction (tests/test_bmw_or.py pins both), but
its extra small driver jobs cost real seconds — so the ``or_prune=
"auto"`` threshold must come from DATA, not an estimate.  This script
builds indexes at several corpus sizes from the FIXTURES.md synthetic
source-code generator (token_range (200, 1601) — the
bench/scaling corpus profile, 'common' is a ~95%-df stopword) and times
the same disjunctive query with pruning forced ON vs OFF, plus the
conjunctive candidate-decode path ON vs OFF.

    python scripts/bench_bmw.py [--sizes 100000,300000,1000000]
                                [--cores 32] [--reps 3] [--keep] [--cold]

Prints one JSON line per size plus a summary line; indexes cached under
iib_bmw in the temp directory (``TMPDIR``; ``--keep`` leaves them for
reuse across runs).

Every variant also reports the JVM's READ BYTES (benchmetrics.JvmIOMeter,
VERDICT r6 #2): ``*_rchar_mb`` = total bytes MOVED through read
syscalls — storage AND the python->JVM Arrow stream of decoded
postings, which dominates query paths (corrected r7; see the
benchmetrics docstring) — a deterministic work measure, not a GET
count; ``*_disk_mb`` = physical block-device bytes.  ``--cold`` models
the remote/cold tier on this box: Spark-side caching is disabled and
the OS page cache is dropped before every rep, so the DISK column is
the object-storage-GET analog each query pays — the measurement the
500M OR auto-prune floor needs (its in-memory extrapolation has no
winning BMW point under the r6 decoder; cold reads are where skipped
blocks become skipped IO).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = os.path.join(tempfile.gettempdir(), "iib_bmw")

OR_QUERY = "rare0007 rare0123 common"   # 2 light lists + 1 heavy stopword
AND_QUERY = "rare0007 common"           # rarest-list candidate decode

# At the bench token profile (200-1600 tokens/doc) the Zipf head of
# MID_TERMS saturates: each of these has df ~= N, i.e. every extra
# term adds a full ~0.95N-posting heavy list to the OR.  --heavies K
# appends K-1 of them after 'common', isolating the crossover's decode
# term (or_full grows linearly in K, or_bmw's overhead does not).
EXTRA_HEAVIES = ["alpha", "beta", "gamma", "delta", "epsilon",
                 "zeta", "eta"]


def ensure_index(spark, n_docs: int) -> str:
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    out = os.path.join(WORK, f"idx_{n_docs}")
    # completeness = the build manifest's index phase (tables.json is
    # the COMPACTION generation pointer — a fresh build never writes
    # it, so checking it here rebuilt a finished 60-minute 30M index)
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            phases = json.load(f).get("phases", {})
        if phases.get("index", {}).get("status") == "done":
            return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    # shuffle partitions sized to the DATA, not the core count: the
    # postings shuffle at 30M docs is ~1.3B rows, and 32 reducers
    # each sorting 40M+ rows spill multiply.  Restored for the (small)
    # query phase by the caller.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(int(spark.sparkContext.defaultParallelism),
                n_docs // 250_000)),
    )
    build(
        spark,
        synthetic_docs_src(
            spark,
            n_docs,
            token_range=(200, 1601),
            # default caps at 64 partitions; at 30M docs that is a
            # ~470k-doc / ~2.5 GB-of-text task — one straggler wedged
            # a 25-min run (r5).  ~125k docs/task keeps tasks small.
            num_partitions=max(64, n_docs // 125_000),
            # row index = doc_id: drives the pre-assigned-id ingestion
            # path, so content never shuffles — the id-map sort-merge
            # join's shuffle files at 30M docs (~corpus bytes) were
            # what overflowed this sandbox's disk
            with_ids=True,
        ),
        out,
    )
    print(f"# built idx_{n_docs} in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out


def timed(fn, reps: int, io=None, cold: bool = False):
    """Best-of-reps seconds + the best rep's JVM read-byte deltas.
    ``cold`` drops the OS page cache before EVERY rep (benchmetrics.
    drop_page_cache), so each rep pays its real disk reads."""
    from invertedindexbuilder_spark.benchmetrics import drop_page_cache

    best, best_io = float("inf"), {"rchar": 0, "read_bytes": 0}
    for _ in range(reps):
        if cold and not drop_page_cache():
            print("# --cold requested but drop_caches unavailable",
                  file=sys.stderr)
        if io is not None:
            io.delta()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        d = io.delta() if io is not None else best_io
        if dt < best:
            best, best_io = dt, d
    return round(best, 3), best_io


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100000,300000,1000000")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--cold", action="store_true",
                    help="cold-read protocol: no Spark-side caching of "
                         "chunks/docs, OS page cache dropped before "
                         "every rep — disk bytes become the IO each "
                         "query actually pays (the object-storage "
                         "cost model)")
    ap.add_argument("--heavy-df", type=int, default=None,
                    help="override the light/heavy classifier "
                         "(HEAVY_QUERY_DF=8192).  The fixture's rare "
                         "class drifted to df~8.6-8.9k at 30M docs — "
                         "JUST above the default, so every 30M OR "
                         "measurement on the current index silently "
                         "fell back to full decode (no light list, no "
                         "candidates).  Pass e.g. 16384 so the rare "
                         "class is light again and the pass engages.")
    ap.add_argument("--heavies", type=int, default=1,
                    help="number of ~0.95N-df heavy lists in the OR "
                         "query (default 1 = just 'common'); >1 appends "
                         "MID_TERMS Zipf heads, each a full extra heavy "
                         "list at the bench token profile")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    or_query = OR_QUERY
    if args.heavies > 1:
        or_query += " " + " ".join(EXTRA_HEAVIES[: args.heavies - 1])

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.session import get_spark

    os.makedirs(WORK, exist_ok=True)
    spark = get_spark(app_name="bench-bmw", cores=args.cores,
                      shuffle_partitions=args.cores, task_retries=4)
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for n in sizes:
        out = ensure_index(spark, n)
        spark.conf.set("spark.sql.shuffle.partitions", str(args.cores))
        cat = Catalog(spark, out)
        chunks = cat.read("index_chunks")
        docs = cat.read("docs").select("doc_id", "doc_len")
        if args.cold:
            # no executor-memory caching: every rep's chunk reads hit
            # the (dropped) page cache, i.e. the disk — the serving
            # posture of an index too big for cluster RAM
            chunks.count(), docs.count()
        else:
            chunks, docs = chunks.cache(), docs.cache()
            chunks.count(), docs.count()
        stats = load_stats(spark, out)

        def run(query, mode, **kw):
            if args.heavy_df is not None:
                kw["heavy_df"] = args.heavy_df
            return lambda: topk_bm25_chunked(
                spark, chunks, docs, stats, query, mode=mode, k=10, **kw
            ).collect()

        # warm both paths once (python workers / codegen) outside the
        # clock — under --cold the page cache is re-dropped per rep, so
        # this only warms code, not data
        run(or_query, "or", or_prune=True)()
        run(or_query, "or", or_prune=False)()
        # host-speed canary (benchmetrics' fixed sha256 loop) stamped
        # per size so crossover re-measurements are host-normalizable
        from invertedindexbuilder_spark.benchmetrics import (
            JvmIOMeter,
            cpu_canary as _cpu_canary,
        )

        io = JvmIOMeter()
        row = {
            "n_docs": n,
            "heavies": args.heavies,
            "cold": bool(args.cold),
            "canary_sec": _cpu_canary(),
        }
        for name, q, mode, kw in (
            ("or_bmw", or_query, "or", {"or_prune": True}),
            ("or_full", or_query, "or", {"or_prune": False}),
            ("and_prune", AND_QUERY, "and", {"and_prune": True}),
            ("and_full", AND_QUERY, "and", {"and_prune": False}),
        ):
            sec, b = timed(run(q, mode, **kw), args.reps, io=io,
                           cold=args.cold)
            row[name] = sec
            row[f"{name}_rchar_mb"] = round(b["rchar"] / 1e6, 2)
            row[f"{name}_disk_mb"] = round(b["read_bytes"] / 1e6, 2)
        row["or_bmw_minus_full"] = round(row["or_bmw"] - row["or_full"], 3)
        row["and_prune_minus_full"] = round(
            row["and_prune"] - row["and_full"], 3
        )
        print(json.dumps(row))
        results.append(row)
        chunks.unpersist()
        docs.unpersist()
        if not args.keep:
            shutil.rmtree(out, ignore_errors=True)

    print(json.dumps({"summary": results, "cores": args.cores,
                      "or_query": or_query, "and_query": AND_QUERY}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
