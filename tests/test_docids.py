"""Doc-id assignment: ``doc_id`` is the 0-based rank in (repo, path,
commit) order, whatever the range partitioning looks like — partitions
left empty, more partitions than rows — and whichever join attaches
the id map (broadcast or sort-merge)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.docids import (
    SORT_KEYS,
    assign_doc_ids,
    attach_doc_ids,
    doc_id_map,
)


def _keys(spark, n, source_partitions):
    # key order is NOT generation order: the path runs backwards
    return spark.range(n, numPartitions=source_partitions).select(
        F.format_string("r%d", F.col("id") % 3).alias("repo"),
        F.format_string("p%05d", F.lit(n) - F.col("id")).alias("path"),
        F.lit("c").alias("commit"),
        F.col("id").alias("payload"),
    )


def _want(df):
    rows = sorted(tuple(r) for r in df.select(*SORT_KEYS).collect())
    return {k: i for i, k in enumerate(rows)}


def _range_partition_sizes(df, n):
    counts = dict(
        df.repartitionByRange(n, *SORT_KEYS)
        .groupBy(F.spark_partition_id())
        .count()
        .collect()
    )
    return [counts.get(p, 0) for p in range(n)]


def _check(df, num_partitions, broadcast_bytes_limit=512 << 20):
    want = _want(df)
    got = {
        tuple(r[k] for k in SORT_KEYS): r["doc_id"]
        for r in assign_doc_ids(df, num_partitions=num_partitions).collect()
    }
    assert got == want
    ids, total = doc_id_map(df, num_partitions=num_partitions)
    assert total == len(want)
    attached = attach_doc_ids(
        df, ids, total, broadcast_bytes_limit=broadcast_bytes_limit
    )
    rows = attached.collect()
    assert {tuple(r[k] for k in SORT_KEYS): r["doc_id"] for r in rows} == want
    assert sorted(r["doc_id"] for r in rows) == list(range(len(want)))


def test_ranks_with_empty_range_partitions(spark):
    df = _keys(spark, 10, 3)
    sizes = _range_partition_sizes(df, 64)
    assert 0 in sizes and sum(sizes) == 10
    _check(df, 64)
    empty = _keys(spark, 0, 2)
    ids, total = doc_id_map(empty, num_partitions=8)
    assert total == 0 and ids.count() == 0


@pytest.mark.parametrize("n", [1, 3, 7])
def test_ranks_with_more_partitions_than_rows(spark, n):
    _check(_keys(spark, n, 4), 8)


def test_ranks_through_sort_merge_attach(spark):
    # the id map of a corpus past the broadcast limit: with Spark's own
    # size-based broadcast off too, the attach is a sort-merge join
    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        df = _keys(spark, 300, 4)
        ids, total = doc_id_map(df)
        attached = attach_doc_ids(df, ids, total, broadcast_bytes_limit=0)
        attached.collect()
        plan = attached._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Broadcast" not in plan
        _check(df, None, broadcast_bytes_limit=0)
    finally:
        spark.conf.set(conf, prev)
