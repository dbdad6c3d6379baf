"""spark-submit entry point: build the inverted index.

    spark-submit --py-files engine.zip scripts/build_index.py \
        --input /path/docs_src_parquet --out /path/index_root

or with a deterministic synthetic corpus (FIXTURES.md):

    ... build_index.py --synthetic 200000 --out /tmp/idx

Prints one JSON line of build metrics (docs, wall seconds, docs/sec).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir with docs_src schema")
    ap.add_argument("--synthetic", type=int, help="generate N synthetic docs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--salt-threshold", type=int, default=None,
                    help="postings per term before doc-range salting "
                         "(default: adaptive)")
    ap.add_argument("--chunk-blocks", type=int, default=None,
                    help="blocks per salted chunk (default: adaptive)")
    ap.add_argument("--checkpoint-postings", action="store_true")
    ap.add_argument("--compact", action="store_true",
                    help="treat the input as a DELTA of new files and "
                         "fold it into the existing build at --out; old "
                         "postings are never re-tokenized or re-encoded")
    ap.add_argument("--synthetic-start", type=int, default=0,
                    help="with --synthetic: generate rows "
                         "[start, start+N) (disjoint delta corpora)")
    ap.add_argument("--sample-fraction", type=float, default=None,
                    help="index only a deterministic fraction of docs "
                         "(reference -p flag analog, S4)")
    ap.add_argument("--tokenizer", choices=["arrow", "pandas", "jvm"],
                    default="arrow",
                    help="arrow (default, r8): mapInArrow RE2 tokenizer, "
                         "~3.7x the jvm path at 1M docs; pandas is an "
                         "alias for the same arrow-backed build_postings; "
                         "jvm: pure column expressions, kept for clusters "
                         "that must stay off the Python workers")
    ap.add_argument("--search-tables", action="store_true",
                    help="also materialize the search-extension "
                         "indexes (positional postings, char trigrams, "
                         "fuzzy deletion variants, doc-term/df tables) "
                         "into the same catalog; search_cli.py "
                         "--search-index serves from them")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the pre-timing warm-up job")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] when not launched via spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if args.cores is not None:
        from invertedindexbuilder_spark.session import get_spark

        spark = get_spark(app_name="build-index", cores=args.cores,
                          shuffle_partitions=max(args.cores, 8))
    else:
        spark = SparkSession.builder.appName("build-index").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    if args.synthetic:
        src = synthetic_docs_src(spark, args.synthetic, start=args.synthetic_start)
    elif args.input:
        src = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synthetic")

    if args.sample_fraction:
        # deterministic content-keyed fraction (reference -p processes a
        # byte-prefix of the input; a hash fraction is the stable analog
        # for a table)
        pct = int(args.sample_fraction * 10000)
        src = src.filter(
            (F.abs(F.xxhash64("repo", "path", "commit")) % 10000) < pct
        )

    if not args.no_warmup:
        # steady-state measurement: spin up executor python workers,
        # Arrow serializers, and shuffle machinery before the clock
        # starts (same warm-up at every parallelism level)
        from invertedindexbuilder_spark.operators.postings import build_postings

        cores = spark.sparkContext.defaultParallelism
        warm = (
            src.limit(cores * 16)
            .repartition(cores)  # spawn a python worker on every slot
            .withColumn("doc_id", F.monotonically_increasing_id())
        )
        build_postings(warm).groupBy("term").count().count()

    t0 = time.time()
    if args.compact:
        from invertedindexbuilder_spark.plans.build import compact

        manifest = compact(
            spark,
            src,
            args.out,
            salt_threshold=args.salt_threshold,
            chunk_blocks=args.chunk_blocks,
            tokenizer=args.tokenizer,
        )
        if args.search_tables:
            # incremental search-table update (requires the base build
            # to have run with --search-tables): the delta's doc ids
            # were just assigned by compact, so join them back onto the
            # delta source's text
            from invertedindexbuilder_spark.catalog import Catalog
            from invertedindexbuilder_spark.plans.build import (
                compact_search_tables,
            )

            delta_text = (
                Catalog(spark, args.out).read("docs")
                .select("doc_id", "repo", "path", "commit")
                .join(src, ["repo", "path", "commit"])
                .select(
                    "doc_id",
                    F.coalesce(F.col("content"), F.lit("")).alias("text"),
                )
            )
            compact_search_tables(spark, delta_text, args.out)
        wall = time.time() - t0
        ph = manifest["phases"]["compact"]
        print(
            json.dumps(
                {
                    "delta_docs": ph["delta_rows"],
                    "docs": ph["n_docs"],
                    "terms": ph["terms"],
                    "postings": ph["postings"],
                    "wall_s": round(wall, 2),
                    "delta_docs_per_sec": round(ph["delta_rows"] / wall, 1),
                }
            )
        )
        spark.stop()
        return 0
    manifest = build(
        spark,
        src,
        args.out,
        salt_threshold=args.salt_threshold,
        chunk_blocks=args.chunk_blocks,
        checkpoint_postings=args.checkpoint_postings,
        tokenizer=args.tokenizer,
    )
    wall = time.time() - t0
    search_counts = None
    if args.search_tables:
        from invertedindexbuilder_spark.catalog import Catalog
        from invertedindexbuilder_spark.plans.build import (
            build_search_tables,
        )

        # search tables tokenize CONTENT: join the durable source text
        # onto the build's doc ids (the docs table is metadata-only)
        docs_meta = Catalog(spark, args.out).read("docs").select(
            "doc_id", "repo", "path", "commit"
        )
        with_text = docs_meta.join(src, ["repo", "path", "commit"]).select(
            "doc_id", F.coalesce(F.col("content"), F.lit("")).alias("text")
        )
        search_counts = build_search_tables(spark, with_text, args.out)
    n_docs = manifest["phases"]["docs"]["rows"]
    print(
        json.dumps(
            {
                "docs": n_docs,
                "terms": manifest["phases"]["index"]["terms"],
                "postings": manifest["phases"]["index"]["postings"],
                "payload_bytes": manifest["phases"]["index"]["payload_bytes"],
                "wall_s": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                **({"search_tables": search_counts} if search_counts else {}),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
