"""Measure physical-purge cost vs deletion clustering (r6).

SCALE.md claims the purge is O(affected chunks) for id-clustered
deletions and O(index bytes) worst-case for scattered ones — this
script measures both on the same 1M-doc chunked index (shared cache
with bench_local_query.py): delete 1% of docs either as one contiguous
id range (the source-takedown shape under arrival-order ids) or
spread evenly (every 100th doc), then purge, reporting wall time and
how many chunks actually had to decode→re-encode vs take the cheap
one-varbyte rebase.

    python scripts/bench_purge.py [--docs 1000000] [--frac 0.01]

Prints one JSON line per pattern (canary-stamped).
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


def touched_chunks(spark, root, deleted) -> dict:
    """How much of the index the purge must decode→re-encode: chunks
    whose doc range contains a tombstoned id (mirrors purge_chunks'
    split — the rest take the one-varbyte rebase), by count AND by
    POSTING volume.  Posting volume is the load-bearing number: light
    terms have one corpus-spanning chunk each (always touched, but
    tiny), while the salted heavy terms' narrow doc-range chunks are
    where the bytes live."""
    import numpy as np
    from pyspark.sql import functions as F

    from invertedindexbuilder_spark.catalog import Catalog

    ch = Catalog(spark, root).read("index_chunks").select(
        "first_doc_id",
        F.element_at("last_doc_ids", -1).alias("last_doc"),
        "df",
    ).toPandas()
    d = np.sort(np.asarray(deleted, dtype=np.int64))
    lo = np.searchsorted(d, ch["first_doc_id"].to_numpy(np.int64), "left")
    hi = np.searchsorted(d, ch["last_doc"].to_numpy(np.int64), "right")
    hit = hi > lo
    df = ch["df"].to_numpy(np.int64)
    return {
        "chunks_touched": int(hit.sum()),
        "chunks_total": len(ch),
        "postings_touched": int(df[hit].sum()),
        "postings_total": int(df.sum()),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--frac", type=float, default=0.01)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--index",
                    help="use an existing build (e.g. the cached 30M "
                         "bench_bmw index) instead of building one; "
                         "--docs must match its corpus")
    ap.add_argument("--patterns", default="clustered,scattered")
    args = ap.parse_args()

    from invertedindexbuilder_spark.benchmetrics import cpu_canary as _cpu_canary
    from bench_local_query import ensure_index
    from invertedindexbuilder_spark.plans.deletes import (
        delete_docs,
        purge_deletes,
    )
    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="bench-purge", cores=args.cores,
                      shuffle_partitions=args.cores, task_retries=4)
    spark.sparkContext.setLogLevel("ERROR")
    base = args.index if args.index else ensure_index(spark, args.docs)

    n_del = int(args.docs * args.frac)
    patterns = {
        # one contiguous range in the id interior (not the 0 edge, so
        # both rebase directions occur)
        "clustered": list(range(args.docs // 2, args.docs // 2 + n_del)),
        # every (1/frac)-th doc: nearly every multi-doc chunk overlaps
        "scattered": list(range(0, args.docs, int(1 / args.frac))),
    }
    wanted = {p.strip() for p in args.patterns.split(",") if p.strip()}
    for name, deleted in patterns.items():
        if name not in wanted:
            continue
        work = base + f"_purge_{name}"
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(base, work)
        touch = touched_chunks(spark, work, deleted)
        canary = _cpu_canary()
        from invertedindexbuilder_spark.benchmetrics import JvmIOMeter

        io = JvmIOMeter()
        io.delta()
        t0 = time.time()
        delete_docs(spark, work, deleted)
        t_tomb = time.time() - t0
        io.delta()
        t0 = time.time()
        out = purge_deletes(spark, work)
        t_purge = time.time() - t0
        purge_io = io.delta()
        print(json.dumps({
            "pattern": name,
            "n_docs_indexed": args.docs,
            "n_deleted": len(deleted),
            **touch,
            "reencode_frac": round(
                touch["postings_touched"] / touch["postings_total"], 4
            ),
            "tombstone_s": round(t_tomb, 2),
            "purge_s": round(t_purge, 2),
            # VERDICT r6 #2: byte-grounded shift-path claim — the JVM's
            # logical read bytes over the purge (index + docs + search
            # tables in, rewritten generation out is WRITE-side)
            "purge_rchar_mb": round(purge_io["rchar"] / 1e6, 2),
            "purge_disk_mb": round(purge_io["read_bytes"] / 1e6, 2),
            "canary_sec": canary,
            "n_docs_after": out["n_docs"],
            "n_purged": out["n_purged"],
        }))
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
