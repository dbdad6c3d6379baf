"""Driver-local query session: exactness vs full-decode scoring and
block-pruning effectiveness (SURVEY §7 M5 / north-star block-max), and
the session's result cache: a hit equals the uncached answer bit for
bit, decodes nothing, and never outlives its snapshot's tombstones."""

import numpy as np
import pytest

from invertedindexbuilder_spark.functions.bm25 import bm25
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.operators.query_exec import tokenize_query
from invertedindexbuilder_spark.plans.build import build
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

from tests.oracle_util import CorpusOracle

N_DOCS = 3000  # df('common') ~ 2850 -> 23 blocks; zipf head terms ~2900


@pytest.fixture(scope="module")
def li(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lq") / "idx")
    build(spark, synthetic_docs_src(spark, N_DOCS), out, salt_threshold=10**9)
    return LocalIndex(out)


@pytest.fixture(scope="module")
def oracle():
    return CorpusOracle(N_DOCS)


def fresh(li):
    """A new session of the module index's root, its result cache empty:
    the module session has answered some queries already, and a test
    that counts decoded blocks must measure a miss."""
    return LocalIndex(li.index_root)


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
    li = fresh(li)
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
    li = fresh(li)
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

    li = fresh(li)

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


# ------------------------------------------------------------ result cache

# D5 collision pair members (one 14-char key), duplicate and unknown terms
CACHE_QUERIES = QUERIES + [
    "abcdefghijklmno",
    "abcdefghijklmnz alpha",
    "abcdefghijklmno abcdefghijklmnz common",
]


def _close(got, want):
    return [g[0] for g in got] == [w[0] for w in want] and all(
        abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))
        for (_, gs), (_, ws) in zip(got, want)
    )


def _without(ranking, excluded, k):
    return [(d, s) for d, s in ranking if d not in excluded][:k]


@pytest.mark.parametrize("strict", [True, False])
@pytest.mark.parametrize("mode", ["and", "or"])
def test_cached_answer_is_the_uncached_answer(li, oracle, mode, strict):
    """A repeated query is a hit: the same tuples as a session that never
    saw the query, equal to the oracle, and 0 blocks decoded."""
    uncached = fresh(li)
    for q in CACHE_QUERIES:
        first = topk_local(li, q, mode=mode, k=10, strict=strict)
        hits, blocks = li.cache_hits, li.blocks_decoded
        again = topk_local(li, q, mode=mode, k=10, strict=strict)
        assert li.cache_hits == hits + 1, q
        assert li.blocks_decoded == blocks, q
        want = topk_local(uncached, q, mode=mode, k=10, strict=strict)
        assert again == first == want, (q, mode, strict)
        oracle_want = oracle.topk(tokenize_query(q), mode, 10, strict=strict)
        assert _close(again, oracle_want), (q, mode, strict)


def test_mutating_an_answer_leaves_the_cache_intact(li):
    li = fresh(li)
    first = topk_local(li, "common alpha", mode="or", k=5)
    want = list(first)
    first[0] = (-1, 0.0)
    first.append((-2, 0.0))
    second = topk_local(li, "common alpha", mode="or", k=5)
    assert second == want
    second.clear()
    assert topk_local(li, "common alpha", mode="or", k=5) == want
    assert li.cache_hits == 2


def test_cache_evicts_least_recently_used(li, monkeypatch):
    import invertedindexbuilder_spark.operators.local_query as lq

    monkeypatch.setattr(lq, "RESULT_CACHE_ENTRIES", 2)
    li = fresh(li)

    def hit(q):
        hits = li.cache_hits
        got = topk_local(li, q, mode="and", k=10)
        assert _close(got, brute_topk(li, q.split(), "and", 10)), q
        return li.cache_hits > hits

    assert not hit("alpha beta")
    assert not hit("common rare0012")
    assert hit("alpha beta")  # now the most recently used
    assert not hit("rare0001 common")  # evicts "common rare0012"
    assert hit("alpha beta")
    assert not hit("common rare0012")


@pytest.mark.parametrize("mode", ["and", "or"])
def test_reassigned_tombstones_drop_cached_answers(li, oracle, mode):
    """A session whose tombstones are reassigned answers against the new
    exclusions, never from an answer cached under the old ones."""
    li = fresh(li)
    k = 10
    excluded = np.arange(0, N_DOCS, 7, dtype=np.int64)
    queries = ["common alpha", "alpha rare0007", "alpha alpha index"]

    def check(tomb):
        for q in queries:
            full_brute = brute_topk(li, q.split(), mode, N_DOCS)
            full_oracle = oracle.topk(tokenize_query(q), mode, N_DOCS)
            for apply in (True, False):
                ex = set(tomb.tolist()) if apply and tomb is not None else set()
                got = topk_local(li, q, mode=mode, k=k, apply_tombstones=apply)
                assert _close(got, _without(full_brute, ex, k)), (q, apply)
                assert _close(got, _without(full_oracle, ex, k)), (q, apply)

    check(None)
    li.tombstones = excluded
    check(excluded)
    li.tombstones = None
    check(None)
