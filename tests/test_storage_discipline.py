"""Cache-leak discipline (ADVICE r1): repeated queries / dedup runs in
a long-lived session must not grow executor storage — every persist
acquired inside an operator is released by the time its output is
materialized."""

from __future__ import annotations

from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.dedup import minhash_dedup
from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getRDDStorageInfo().__len__()


def test_repeated_queries_do_not_grow_storage(spark):
    rows = []
    for d in range(300):
        rows.append(("the", d, 1 + d % 3))
        if d % 5 == 0:
            rows.append(("mid", d, 1))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    chunks = encode_chunks(postings, salt_threshold=64, chunk_blocks=1).cache()
    unsalted = encode_chunks(postings, heavy=[]).cache()
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), F.lit(120).cast("long").alias("doc_len")
    )
    stats = {"n_docs": 300, "sum_doc_len": 300 * 120}
    chunks.count(), unsalted.count()

    base = _n_cached_rdds(spark)
    for q, m in [("the mid", "and"), ("the", "or")] * 5:
        topk_bm25_chunked(spark, unsalted, docs, stats, q, mode=m, k=5).collect()
        topk_bm25_chunked(spark, chunks, docs, stats, q, mode=m, k=5).collect()
    # <=: Spark's async ContextCleaner may release OTHER tests' expired
    # checkpoint RDDs mid-loop; the property under test is non-growth
    assert _n_cached_rdds(spark) <= base


def test_repeated_dedup_does_not_grow_storage(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}w{j}" for j in range(30))) for i in range(50)],
        "doc_id long, text string",
    )
    minhash_dedup(docs, threshold=0.7).count()  # warm (localCheckpoint RDDs)
    base = _n_cached_rdds(spark)
    for _ in range(3):
        minhash_dedup(docs, threshold=0.7).count()
    # localCheckpoint pins only the tiny pair-set RDD of each run; the
    # shingle caches (the big frames) must all be released
    grown = _n_cached_rdds(spark) - base
    assert grown <= 3  # at most the 3 checkpointed pair sets, nothing else
