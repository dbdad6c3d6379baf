"""A one-document index (N = 1): the reference's d_avr = sum / (N - 1)
divides by zero, which as a double division is +inf — so |d| / d_avr
is 0 and the BM25 length normalisation reduces to k1 * (1 - b).  Every
query surface (driver-local, distributed single-query, batch) must
answer, agree, and score exactly that hand-evaluated formula."""

from __future__ import annotations

import collections
import math

import pytest

from invertedindexbuilder_spark import BM25_B, BM25_K1
from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.bm25 import d_avr
from invertedindexbuilder_spark.functions.tokenize import tokenize_text
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.operators.query_batch import topk_bm25_batch
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.sources.docs_src import (
    synthetic_docs_src,
    synthetic_docs_src_pandas,
)

QUERY = "alpha beta zzznotaterm"


def test_d_avr_single_doc_is_inf():
    assert d_avr(500, 1) == math.inf
    assert d_avr(500, 3) == 250.0


@pytest.fixture(scope="module")
def one_doc(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("onedoc") / "idx")
    build(spark, synthetic_docs_src(spark, 1, 42), root)
    return root


def _hand_score() -> float:
    """BM25 with N = df = 1 and d_avr = +inf, evaluated by hand."""
    tf = collections.Counter(
        tokenize_text(synthetic_docs_src_pandas(1, 42).content.iloc[0])
    )
    idf = math.log2((1 - 1 + 0.5) / (1 + 0.5))
    return sum(
        idf * (BM25_K1 + 1) * tf[t] / (BM25_K1 * (1 - BM25_B) + tf[t])
        for t in ("alpha", "beta")
    )


@pytest.mark.parametrize("mode", ["and", "or"])
def test_one_doc_index_answers_on_every_surface(spark, one_doc, mode):
    stats = load_stats(spark, one_doc)
    assert stats["n_docs"] == 1
    want = _hand_score()

    local = topk_local(LocalIndex(one_doc), QUERY, mode=mode, k=10)

    cat = Catalog(spark, one_doc)
    chunks = cat.read("index_chunks")
    docs = cat.read("docs").select("doc_id", "doc_len")
    dist = [
        (r["doc_id"], r["score"])
        for r in topk_bm25_chunked(
            spark, chunks, docs, stats, QUERY, mode=mode, k=10
        ).collect()
    ]
    qdf = spark.createDataFrame([(0, QUERY)], "query_id long, text string")
    batch = [
        (r["doc_id"], r["score"])
        for r in topk_bm25_batch(
            spark, chunks, docs, stats, qdf, mode=mode, k=10
        ).collect()
    ]

    for got in (local, dist, batch):
        assert [d for d, _ in got] == [0]
        assert got[0][1] == pytest.approx(want, rel=1e-12)


def test_one_doc_index_engaged_and_candidate_pass(spark, one_doc, monkeypatch):
    """N = 1 through the conjunctive candidate pass: single-query,
    batch and facet AND equal their unpruned runs and the spec oracle."""
    from invertedindexbuilder_spark.operators import query_exec as qe
    from invertedindexbuilder_spark.operators.query_exec import facet_counts

    from tests.oracle_util import CorpusOracle
    from tests.test_and_candidate_pass import engaged_spy

    stats = load_stats(spark, one_doc)
    cat = Catalog(spark, one_doc)
    chunks = cat.read("index_chunks")
    docs = cat.read("docs")
    qdf = spark.createDataFrame([(0, QUERY)], "query_id long, text string")

    def run(and_prune):
        dist = [
            (r["doc_id"], r["score"])
            for r in topk_bm25_chunked(
                spark, chunks, docs, stats, QUERY, mode="and", k=10,
                and_prune=and_prune,
            ).collect()
        ]
        batch = [
            (r["doc_id"], r["score"])
            for r in topk_bm25_batch(
                spark, chunks, docs, stats, qdf, mode="and", k=10
            ).collect()
        ]
        facets = [
            (r["repo"], r["n_docs"])
            for r in facet_counts(
                spark, chunks, docs, QUERY, ["repo"], mode="and"
            ).collect()
        ]
        return dist, batch, facets

    full = run(False)
    calls = engaged_spy(monkeypatch)
    engaged = run(True)
    assert len(calls) == 3, "every surface must take the candidate pass"

    oracle = CorpusOracle(1)
    want = oracle.topk(qe.tokenize_query(QUERY), "and", 10)
    assert [d for d, _ in want] == [0]
    for got in (*full[:2], *engaged[:2]):
        assert [d for d, _ in got] == [0]
        assert got[0][1] == pytest.approx(want[0][1], rel=1e-12)
    assert engaged[2] == full[2] == [(oracle.pdf.repo.iloc[0], 1)]
