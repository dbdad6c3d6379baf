"""The conjunctive candidate pass (query_exec.candidate_pass) on
edge inputs.  Single-query, batch and facet AND each run it engaged
(and_prune=True, or the skippable floor forced to 0) and must equal
both their unpruned run and the spec oracle (CorpusOracle): a
duplicated rare term, an unknown term next to known ones, and a
tombstone set that covers every candidate.  The one-document index is
covered in test_one_doc_index.py."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators import query_batch as qb
from invertedindexbuilder_spark.operators import query_exec as qe
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

from tests.oracle_util import CorpusOracle

N_DOCS = 400
K = 10
RARE = "0xdeadbeef"  # a SPECIALS token: df ~ N/44


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("andcand") / "idx")
    build(spark, synthetic_docs_src(spark, N_DOCS), out)
    cat = Catalog(spark, out)
    oracle = CorpusOracle(N_DOCS)
    rare_docs = sorted(oracle.postings[RARE])
    assert 1 < len(rare_docs) < len(oracle.postings["common"])
    return {
        "chunks": cat.read("index_chunks").cache(),
        "docs": cat.read("docs").cache(),
        "stats": load_stats(spark, out),
        "oracle": oracle,
        "rare_docs": rare_docs,
    }


def engaged_spy(monkeypatch):
    """Force the AND floor to 0 and count candidate passes."""
    calls = []
    real = qe.candidate_pass

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qe, "candidate_pass", spy)
    monkeypatch.setattr(qb, "candidate_pass", spy)
    monkeypatch.setattr(qe, "AND_PRUNE_MIN_SKIPPABLE", 0)
    return calls


def _oracle_topk(oracle, query, tomb):
    hits = oracle.topk(qe.tokenize_query(query), "and", oracle.n_docs)
    return [(d, s) for d, s in hits if d not in tomb][:K]


def _oracle_facets(oracle, query, tomb):
    hits = oracle.topk(qe.tokenize_query(query), "and", oracle.n_docs)
    return collections.Counter(
        oracle.pdf.repo.iloc[d] for d, _ in hits if d not in tomb
    )


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12)


CASES = {
    "duplicated rare term": (f"{RARE} {RARE} common", False),
    "unknown term": (f"zzznotaterm {RARE} alpha", False),
    "tombstones cover every candidate": (f"{RARE} common", True),
}


@pytest.mark.parametrize("case", list(CASES))
def test_engaged_and_equals_unpruned_and_oracle(spark, env, monkeypatch, case):
    query, tombstone_all = CASES[case]
    tomb_ids = env["rare_docs"] if tombstone_all else []
    tomb = (
        spark.createDataFrame([(int(d),) for d in tomb_ids], "doc_id long")
        if tomb_ids
        else None
    )
    want = _oracle_topk(env["oracle"], query, set(tomb_ids))
    want_facets = _oracle_facets(env["oracle"], query, set(tomb_ids))
    if tombstone_all:
        assert not want and not want_facets

    def single(and_prune):
        return [
            (r["doc_id"], r["score"])
            for r in qe.topk_bm25_chunked(
                spark, env["chunks"], env["docs"], env["stats"], query,
                mode="and", k=K, and_prune=and_prune, exclude_doc_ids=tomb,
            ).collect()
        ]

    def batch():
        qdf = spark.createDataFrame([(0, query)], "query_id long, text string")
        rows = qb.topk_bm25_batch(
            spark, env["chunks"], env["docs"], env["stats"], qdf,
            mode="and", k=K, exclude_doc_ids=tomb,
        ).collect()
        return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]

    def facets():
        rows = qe.facet_counts(
            spark, env["chunks"], env["docs"], query, ["repo"], mode="and",
            exclude_doc_ids=tomb,
        ).collect()
        return collections.Counter({r["repo"]: r["n_docs"] for r in rows})

    full = single(False), batch(), facets()
    calls = engaged_spy(monkeypatch)
    engaged = single(True), batch(), facets()
    assert len(calls) == 3, "every surface must take the candidate pass"

    for got in (engaged[0], engaged[1], full[0], full[1]):
        _same(got, want)
    assert engaged[2] == full[2] == want_facets
