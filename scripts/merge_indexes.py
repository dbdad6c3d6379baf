"""spark-submit entry point: federated merge of two shard builds.

    python scripts/merge_indexes.py --a /path/shardA --b /path/shardB \
        --out /path/merged

Both shards are builds over DISJOINT corpora; the merge is
metadata-only (one varbyte rewritten per chunk of shard B).  Prints
the merged stats as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="shard A index root")
    ap.add_argument("--b", required=True, help="shard B index root")
    ap.add_argument("--out", required=True, help="merged index root")
    ap.add_argument("--no-validate", action="store_true",
                    help="skip the shard-key-overlap check")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cores is not None:
        from invertedindexbuilder_spark.session import get_spark

        spark = get_spark(app_name="merge-indexes", cores=args.cores,
                          shuffle_partitions=max(args.cores, 8))
    else:
        spark = SparkSession.builder.appName("merge-indexes").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from invertedindexbuilder_spark.plans.build import merge_builds

    manifest = merge_builds(
        spark, args.a, args.b, args.out, validate=not args.no_validate
    )
    print(json.dumps(manifest["phases"]["merge_builds"]))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
