"""Boolean NOT-terms and faceted doc filters (query_exec.
topk_bm25_chunked) on whole-list rows (the merged layout: one unsalted
chunk per term) and on salted multi-chunk rows: exclusion correctness
vs a brute-force recompute, layout parity, unknown-term no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.postings import build_postings
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.sources.docs_src import (
    docs_from_documents_table,
)


@pytest.fixture(scope="module")
def env(spark):
    rows = []
    for d in range(60):
        toks = ["data", "join"]
        if d % 4 == 0:
            toks.append("window")
        if d % 7 == 0:
            toks += ["extra"] * (d % 3 + 1)
        rows.append((d, " ".join(toks) + " ."))
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    docs = docs_from_documents_table(documents).cache()
    postings = build_postings(docs).cache()
    merged = encode_chunks(postings, heavy=[]).cache()
    chunks = encode_chunks(postings, salt_threshold=16, chunk_blocks=1).cache()
    agg = docs.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("s"), F.min("doc_len").alias("m")
    ).collect()[0]
    stats = {"n_docs": agg["n"], "sum_doc_len": agg["s"], "min_doc_len": agg["m"]}
    return {
        "docs": docs, "merged": merged, "chunks": chunks, "stats": stats,
        "has_window": {d for d in range(60) if d % 4 == 0},
    }


def _ids(df):
    return [r["doc_id"] for r in df.collect()]


def test_exclude_removes_exactly_matching_docs(spark, env):
    base = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "data join", mode="and", k=100, round_digits=5,
    )
    excl = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "data join", mode="and", k=100, round_digits=5, exclude="window",
    )
    assert set(_ids(excl)) == set(_ids(base)) - env["has_window"]
    # scores of surviving docs are unchanged (exclusion is a filter,
    # not a re-score)
    b = {r["doc_id"]: r["score"] for r in base.collect()}
    for r in excl.collect():
        assert r["score"] == b[r["doc_id"]]


def test_exclude_parity_merged_vs_chunked(spark, env):
    a = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "data join", mode="or", k=100, round_digits=5, exclude="window extra",
    ).collect()
    b = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "data join", mode="or", k=100, round_digits=5, exclude="window extra",
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_exclude_unknown_term_is_noop(spark, env):
    base = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "data join", mode="and", k=100, round_digits=5,
    ).collect()
    excl = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "data join", mode="and", k=100, round_digits=5,
        exclude="zzznotaterm",
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in base] == [
        (r["doc_id"], r["score"]) for r in excl
    ]


def test_exclude_forces_bmw_off_and_stays_exact(spark, env):
    """Exclusion + BMW OR-pruning is unsound (theta seeds from light
    candidates INCLUDING excluded docs -> inflated theta can prune
    heavy blocks holding post-exclusion top-k docs), so exclude= must
    force full decode even when or_prune is requested.  heavy_df=1
    makes every list 'heavy-eligible' so the pruning path WOULD engage
    without the override."""
    kw = dict(
        mode="or", k=5, round_digits=5, exclude="extra", heavy_df=1,
    )
    forced = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "data window",
        or_prune=True, **kw,
    ).collect()
    plain = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "data window",
        or_prune=False, **kw,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in forced] == [
        (r["doc_id"], r["score"]) for r in plain
    ]
    assert forced  # non-degenerate


def test_doc_filter_restricts_both_paths(spark, env):
    pred = F.col("doc_id") % 3 == 0
    for idx in (env["merged"], env["chunks"]):
        out = topk_bm25_chunked(
            spark, idx, env["docs"], env["stats"],
            "data join", mode="and", k=100, round_digits=5, doc_filter=pred,
        )
        ids = _ids(out)
        assert ids and all(d % 3 == 0 for d in ids)
