"""Index introspection: one JSON report over a build's stored tables.

    python scripts/index_stats.py --index /tmp/idx [--top 10] [--cores 8]

Reports corpus stats, per-table file footprints (through the catalog's
generation pointers), posting-list distribution (df percentiles, block
counts, payload bytes), the heaviest terms, and which optional
artifacts (search tables, tombstones) are present —
the operational "what is this index" view an operator wants before
serving or compacting it.  Everything is computed with aggregates over
the stored tables; nothing corpus-sized reaches the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def build_report(spark, index_root: str, top: int = 10) -> dict:
    """The introspection report as a dict (CLI-independent so tests and
    other tooling can call it against an existing session)."""
    from pyspark.sql import functions as F

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import SEARCH_TABLES, load_stats

    cat = Catalog(spark, index_root)

    report: dict = {"root": index_root, "stats": load_stats(spark, index_root)}

    manifest_path = os.path.join(index_root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        report["phases"] = {
            k: {kk: vv for kk, vv in v.items() if kk != "fingerprint"}
            for k, v in m.get("phases", {}).items()
        }
        if "compact_journal" in m:
            report["compact_journal"] = m["compact_journal"]

    tables = ["docs", "index_chunks", "search_stats",
              "deleted_docs", "id_remap", *SEARCH_TABLES]
    footprints = {}
    for t in tables:
        p = cat.path(t)
        if os.path.exists(p):
            footprints[t] = {
                "bytes": _dir_bytes(p),
                "generation": os.path.basename(p),
            }
    report["tables"] = footprints

    # pending logical deletions (plans/deletes.py): serving excludes
    # these now; a purge folds them into the physical artifacts.
    # Tombstoned serving keeps the AS-INDEXED N/d_avr by design
    # (deletes.py: filtered-search semantics), so scoring drifts from a
    # fresh build as debt accumulates — surface the debt and recommend
    # a purge past 5 % so an operator sees the signal (VERDICT r6 #6)
    if "deleted_docs" in footprints:
        n_tomb = int(cat.read("deleted_docs").count())
        n_docs = int(report["stats"].get("n_docs", 0))
        frac = (n_tomb / n_docs) if n_docs else 0.0
        report["n_tombstones"] = n_tomb
        report["tombstone_debt"] = {
            "n_tombstones": n_tomb,
            "fraction_of_n_docs": round(frac, 4),
            "purge_recommended": frac > 0.05,
            "note": (
                "BM25 serving keeps as-indexed N/d_avr until a purge; "
                ">5% deleted => stats drift, run delete_docs.py --purge"
            ) if frac > 0.05 else
            "BM25 serving keeps as-indexed N/d_avr until a purge",
        }

    # posting-list distribution: chunk rows aggregate to full terms
    # first, so a multi-chunk term reports its whole list
    src = None
    if "index_chunks" in footprints:
        src = (
            cat.read("index_chunks")
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum(F.size("last_doc_ids")).alias("n_blocks"),
                F.sum(F.length("payload")).cast("long").alias("payload_bytes"),
                F.count("*").alias("n_chunks"),
            )
        )
    if src is not None:
        agg = src.agg(
            F.count("*").alias("terms"),
            F.sum("df").alias("postings"),
            F.sum("payload_bytes").alias("payload_bytes"),
            F.sum("n_blocks").alias("blocks"),
            F.expr("percentile_approx(df, array(0.5, 0.9, 0.99), 10000)")
            .alias("df_p"),
            F.max("df").alias("df_max"),
        ).collect()[0]
        report["postings"] = {
            "terms": int(agg["terms"]),
            "postings": int(agg["postings"]),
            "payload_bytes": int(agg["payload_bytes"]),
            "blocks": int(agg["blocks"]),
            "df_p50": int(agg["df_p"][0]),
            "df_p90": int(agg["df_p"][1]),
            "df_p99": int(agg["df_p"][2]),
            "df_max": int(agg["df_max"]),
        }
        report["heaviest_terms"] = [
            {"term": r["term"], "df": int(r["df"]),
             "payload_bytes": int(r["payload_bytes"])}
            for r in src.orderBy(F.desc("df"), "term").limit(top).collect()
        ]

    return report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--top", type=int, default=10, help="heaviest terms listed")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="index-stats", cores=args.cores,
                      shuffle_partitions=max(args.cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(build_report(spark, args.index, top=args.top),
                     indent=2, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
