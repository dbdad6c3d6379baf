"""Batch BM25 serving: per-query results must be identical to the
single-query operator (same semantics, one job for the whole table),
on whole-list rows (``index``: the merged layout, one unsalted chunk
per term) and on salted multi-chunk rows (``chunks``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.query_batch import topk_bm25_batch
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked

N = 3000


@pytest.fixture(scope="module")
def env(spark):
    rows = []
    for d in range(N):
        rows.append(("the", d, 1 + d % 3))
        if d % 3 == 0:
            rows.append(("mid", d, 2))
        if d % 11 == 0:
            rows.append(("data", d, 1 + d % 2))
        if d % 250 == 7:
            rows.append(("rare", d, 2))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    chunks = encode_chunks(postings, salt_threshold=256, chunk_blocks=2).cache()
    index = encode_chunks(postings, heavy=[]).cache()
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        (F.lit(80) + F.col("id") % 50).cast("long").alias("doc_len"),
    ).cache()
    stats = {"n_docs": N, "sum_doc_len": sum(80 + d % 50 for d in range(N))}
    return {"chunks": chunks, "index": index, "docs": docs, "stats": stats}


QUERIES = [
    (1, "data mid"),
    (2, "rare the"),
    (3, "data data the"),       # duplicate-term weight
    (4, "mid zzznotaterm"),     # unknown term dropped
    (5, ""),                    # empty query -> no rows
    (6, "zzznotaterm"),         # nothing found -> no rows
]


def _qdf(spark):
    return spark.createDataFrame(QUERIES, "query_id long, text string")


@pytest.mark.parametrize("table", ["index", "chunks"])
def test_batch_per_query_exclusion(spark, env, table):
    """exclude_col: each query's NOT-terms remove docs from THAT
    query's ranking only — parity with the single-query exclude."""
    qdf = spark.createDataFrame(
        [
            (1, "the data", "mid"),     # drop docs containing 'mid'
            (2, "the data", None),      # no exclusion
            (3, "the", "zzznotaterm"),  # unknown NOT-term: no-op
        ],
        "query_id long, text string, minus string",
    )
    batch = topk_bm25_batch(
        spark, env[table], env["docs"], env["stats"], qdf,
        mode="or", k=5, round_digits=6, exclude_col="minus",
    ).collect()
    got: dict[int, list] = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, text, minus in [
        (1, "the data", "mid"), (2, "the data", None), (3, "the", "zzznotaterm")
    ]:
        want = [
            (r["doc_id"], r["score"])
            for r in topk_bm25_chunked(
                spark, env[table], env["docs"], env["stats"], text,
                mode="or", k=5, round_digits=6, exclude=minus,
            ).collect()
        ]
        assert sorted(got[qid]) == sorted(want), f"query {qid}"
    # query 1's exclusion really bites: its doc set differs from 2's
    assert {d for d, _ in got[1]} != {d for d, _ in got[2]}


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("table", ["index", "chunks"])
def test_batch_equals_per_query(spark, env, mode, table):
    batch = topk_bm25_batch(
        spark, env[table], env["docs"], env["stats"], _qdf(spark),
        mode=mode, k=5, round_digits=6,
    ).collect()
    got: dict[int, list] = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, text in QUERIES:
        want = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(
                topk_bm25_chunked(
                    spark, env[table], env["docs"], env["stats"], text,
                    mode=mode, k=5, round_digits=6,
                ).collect()
            )
        ]
        assert sorted(got.get(qid, [])) == sorted(want), f"query {qid}"
    assert 5 not in got and 6 not in got
    assert got  # at least the well-formed queries answered


def test_batch_and_candidate_prune_forced_equals_unpruned(
    spark, env, monkeypatch
):
    """Batch conjunctive candidate pruning: with the skippable-volume
    floor forced to 0 the pruned path must ENGAGE (asserted via a spy on
    the shared candidate pass; the query subset keeps the union rare
    df under the doc_len push cap) and return per-query results
    identical to the unpruned batch and to the single-query operator."""
    import invertedindexbuilder_spark.operators.query_batch as qb
    import invertedindexbuilder_spark.operators.query_exec as qe

    # rare dfs: 'data' ~273 + 'rare' ~12 -> cand_total < DOCLEN_PUSH_CAP
    queries = [(1, "data mid"), (2, "rare the"), (3, "data data the")]
    qdf = spark.createDataFrame(queries, "query_id long, text string")

    calls = []
    real = qb.candidate_pass

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qb, "candidate_pass", spy)

    def run():
        out = qb.topk_bm25_batch(
            spark, env["chunks"], env["docs"], env["stats"], qdf,
            mode="and", k=5, round_digits=6,
        ).collect()
        got: dict[int, list] = {}
        for r in out:
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"])
            )
        return got

    floor = qe.AND_PRUNE_MIN_SKIPPABLE
    monkeypatch.setattr(qe, "AND_PRUNE_MIN_SKIPPABLE", 0)
    pruned = run()
    assert calls, "forced floor must engage the candidate-pruned path"
    calls.clear()
    monkeypatch.setattr(qe, "AND_PRUNE_MIN_SKIPPABLE", floor)
    full = run()
    assert not calls, "default floor must keep the small batch unpruned"
    assert pruned == full and pruned
    for qid, text in queries:
        want = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(
                topk_bm25_chunked(
                    spark, env["chunks"], env["docs"], env["stats"], text,
                    mode="and", k=5, round_digits=6,
                ).collect()
            )
        ]
        assert sorted(pruned.get(qid, [])) == sorted(want), f"query {qid}"
