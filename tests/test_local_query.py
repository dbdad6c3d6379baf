"""Driver-local query session: exactness vs full-decode scoring and
block-pruning effectiveness (SURVEY §7 M5 / north-star block-max)."""

import numpy as np
import pytest

from invertedindexbuilder_spark.functions.bm25 import bm25
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.plans.build import build
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

N_DOCS = 3000  # df('common') ~ 2850 -> 23 blocks; zipf head terms ~2900


@pytest.fixture(scope="module")
def li(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lq") / "idx")
    build(spark, synthetic_docs_src(spark, N_DOCS), out, salt_threshold=10**9)
    return LocalIndex(out)


def brute_topk(li, query_terms, mode, k):
    """Full-decode scorer (no pruning) as the ground truth."""
    weights = {}
    for t in query_terms:
        weights[t[:14]] = weights.get(t[:14], 0) + 1
    matched = []
    for key, w in weights.items():
        row = li.lookup(key, strict=True)
        if row:
            matched.append((row, w))
    scores = {}
    counts = {}
    for row, w in matched:
        d, t = li.decode_all(row)
        c = w * bm25(t, row["df"], li.doc_len[d], li.n_docs, li.d_avr)
        for doc, cc in zip(d.tolist(), c.tolist()):
            scores[doc] = scores.get(doc, 0.0) + cc
            counts[doc] = counts.get(doc, 0) + 1
    items = scores.items()
    if mode == "and":
        items = [(d, s) for d, s in items if counts[d] == len(matched)]
    return sorted(items, key=lambda x: (-x[1], x[0]))[:k]


QUERIES = [
    "alpha rare0007",
    "common rare0012",
    "common alpha beta",
    "alpha alpha index",
    "rare0001 rare0002 rare0003",
    "common",
    "notinlexicon alpha",
    "merge sort parse query block",
]


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("k", [1, 10, 100])
def test_local_equals_brute(li, mode, k):
    for q in QUERIES:
        got = topk_local(li, q, mode=mode, k=k)
        want = brute_topk(li, q.split(), mode, k)
        assert [g[0] for g in got] == [w[0] for w in want], (q, mode, k)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), (q, gd)


def test_conjunctive_block_pruning_skips_blocks(li):
    """rare AND common: only the common-blocks overlapping the rare
    term's few docs should be decoded."""
    row = li.lookup("common", strict=True)
    total_blocks = len(row["block_bytes"])
    assert total_blocks >= 10
    li.blocks_decoded = 0
    topk_local(li, "rare0007 common", mode="and", k=10)
    # rare0007 fully decoded (1 block) + a few common blocks
    assert li.blocks_decoded < total_blocks // 2 + 1


def test_conjunctive_decodes_each_block_once(li):
    """AND scores its candidates from the tfs the intersection decoded:
    on fully overlapping queries every matched block decodes once."""
    for query in ("common", "common alpha"):
        matched = sum(len(li.lookup(t)["block_bytes"]) for t in query.split())
        li.blocks_decoded = 0
        assert topk_local(li, query, mode="and", k=10)
        assert li.blocks_decoded == matched, query


def test_disjunctive_blockmax_prunes(li):
    """OR with k=3 over one heavy and four light terms: with
    HEAVY_QUERY_DF forced low, the light docs seed theta and most
    heavy blocks fail the upper-bound test."""
    import invertedindexbuilder_spark.operators.local_query as lq

    query = "common rare0001 rare0002 rare0003 rare0004"
    rows = [li.lookup(t) for t in query.split()]
    matched = sum(len(r["block_bytes"]) for r in rows if r is not None)
    old = lq.HEAVY_QUERY_DF
    lq.HEAVY_QUERY_DF = 64
    try:
        li.blocks_decoded = 0
        got = topk_local(li, query, mode="or", k=3)
        assert li.blocks_decoded < matched
        want = brute_topk(li, query.split(), "or", 3)
        assert [g[0] for g in got] == [w[0] for w in want]
    finally:
        lq.HEAVY_QUERY_DF = old


def test_disjunctive_multi_negative_heavy_exact(li):
    """r4 regression twin of test_bmw_or's negative-IDF case: several
    heavy lists with df > N/2 (negative IDF).  The local loop is sound
    here by construction — ride-along docs become candidates and the
    fixed-point completion fetches ALL their heavy postings before
    returning, and theta is re-evaluated every round — this test pins
    that property against the full-decode brute force."""
    import invertedindexbuilder_spark.operators.local_query as lq

    old = lq.HEAVY_QUERY_DF
    lq.HEAVY_QUERY_DF = 64
    try:
        for q in (
            "rare0007 common alpha",
            "rare0012 common alpha beta gamma",
        ):
            got = topk_local(li, q, mode="or", k=10)
            want = brute_topk(li, q.split(), "or", 10)
            assert [g[0] for g in got] == [w[0] for w in want], q
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws)), (q, gd)
    finally:
        lq.HEAVY_QUERY_DF = old
