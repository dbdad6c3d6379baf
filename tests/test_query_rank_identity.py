"""Query rank-identity vs the spec oracle (SURVEY §5.4.3): both modes,
k in {1, 10, 100}, unknown/duplicate/truncated terms, empty results."""

import pytest

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators.query_exec import (
    tokenize_query,
    topk_bm25_chunked,
)
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

from tests.oracle_util import CorpusOracle

N_DOCS = 500

QUERIES = [
    # single-term: mid, rare, digit, 15-char, D5-collision pair member
    "alpha", "rare0007", "42", "abcdefghijklmno", "abcdefghijklmnz",
    # two-term incl. common+rare, duplicates, unknown
    "alpha beta", "common rare0007", "alpha alpha", "notinlexicon alpha",
    "merge sort",
    # multi-term
    "spark merge index build", "common alpha beta gamma delta",
    "notinlexicon neitherthisone",  # all unknown => empty
    "0xdeadbeef v2 query",
]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qidx") / "sf_small")
    build(spark, synthetic_docs_src(spark, N_DOCS), out, salt_threshold=10**9)
    cat = Catalog(spark, out)
    return {
        "chunks": cat.read("index_chunks").cache(),
        "docs": cat.read("docs").cache(),
        "stats": load_stats(spark, out),
        "oracle": CorpusOracle(N_DOCS),
    }


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("k", [1, 10, 100])
def test_rank_identity(spark, env, mode, k):
    for q in QUERIES:
        got = [
            (r["doc_id"], r["score"])
            for r in topk_bm25_chunked(
                spark, env["chunks"], env["docs"], env["stats"], q, mode=mode, k=k
            ).collect()
        ]
        want = env["oracle"].topk(tokenize_query(q), mode, k)
        assert [g[0] for g in got] == [w[0] for w in want], (q, mode, k)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), (q, gd, gs, ws)


def test_single_found_term_and_equals_or(spark, env):
    """Unknown terms are silently dropped, so AND == OR when only one
    query term is found (reference Q2 semantics, SURVEY §3.3)."""
    a = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "notinlexicon alpha", mode="and", k=20,
    ).collect()
    o = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "notinlexicon alpha", mode="or", k=20,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in o
    ]


def test_strict_truncation_collision(spark, env):
    """D5: 'abcdefghijklmno' and 'abcdefghijklmnz' share a 14-char key;
    strict lookup must resolve BOTH to the byte-wise last term."""
    r1 = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "abcdefghijklmno", mode="or", k=100, strict=True,
    ).collect()
    r2 = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "abcdefghijklmnz", mode="or", k=100, strict=True,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in r1] == [
        (r["doc_id"], r["score"]) for r in r2
    ]
    # non-strict mode resolves them to their own (different) lists
    n1 = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "abcdefghijklmno", mode="or", k=100, strict=False,
    ).collect()
    n2 = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "abcdefghijklmnz", mode="or", k=100, strict=False,
    ).collect()
    assert {r["doc_id"] for r in n1} != {r["doc_id"] for r in n2}
