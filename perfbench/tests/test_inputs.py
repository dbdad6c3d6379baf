from collections import Counter

from invertedindexbuilder_spark.operators.query_exec import tokenize_query
from perfbench import inputs


def test_same_seed_same_inputs():
    assert inputs.query_pool(7) == inputs.query_pool(7)
    assert inputs.zipf_rounds(7, 3, 240) == inputs.zipf_rounds(7, 3, 240)
    assert inputs.fresh_queries(7, 100, 5) == inputs.fresh_queries(7, 100, 5)
    assert inputs.delta_starts(7, 10_000, 100, 4) == inputs.delta_starts(7, 10_000, 100, 4)
    assert inputs.random_doc_ids(7, 10_000, 3) == inputs.random_doc_ids(7, 10_000, 3)
    start = inputs.delta_starts(7, 10_000, 100, 4)[1]
    assert inputs.delta_rows(start, 20, 42).equals(inputs.delta_rows(start, 20, 42))


def test_different_seed_different_inputs():
    assert inputs.query_pool(7) != inputs.query_pool(8)
    assert inputs.zipf_rounds(7, 3, 240) != inputs.zipf_rounds(8, 3, 240)
    assert inputs.fresh_queries(7, 100, 5) != inputs.fresh_queries(8, 100, 5)
    assert inputs.fresh_queries(7, 100, 5) != inputs.fresh_queries(7, 100, 6)
    assert inputs.delta_starts(7, 10_000, 100, 4) != inputs.delta_starts(8, 10_000, 100, 4)
    assert not inputs.delta_rows(inputs.delta_starts(7, 10_000, 100, 4)[0], 20, 42).equals(
        inputs.delta_rows(inputs.delta_starts(8, 10_000, 100, 4)[0], 20, 42))


def test_pool_follows_the_reference_query_set():
    pool = inputs.query_pool(3)
    assert len(pool) == 30
    lengths = [len(tokenize_query(q)) for q in pool]
    assert sum(n == 1 for n in lengths) == 10
    assert sum(n == 2 for n in lengths) == 10
    assert sum(3 <= n <= 8 for n in lengths) == 10
    terms = [t for q in pool for t in tokenize_query(q)]
    assert "common" in terms
    assert any(t.startswith("rare") for t in terms)
    assert any(t.startswith("nolex") for t in terms)
    assert any(t in inputs.DIGIT_TERMS for t in terms)
    assert any(t in inputs.LONG_TERMS for t in terms)
    assert any(len(set(tokenize_query(q))) < len(tokenize_query(q)) for q in pool)
    assert any(all(t.startswith("nolex") for t in tokenize_query(q)) for q in pool)
    assert "zzzsentinel" not in terms


def test_popular_queries_repeat_in_both_modes_equally():
    draws = inputs.zipf_rounds(3, 4, 240)
    counts = Counter(i for i, _ in draws)
    assert counts[0] > counts[29] > 0
    modes = Counter(m for _, m in draws)
    assert modes["and"] == modes["or"]
    for i in counts:
        per = Counter(m for j, m in draws if j == i)
        assert per["and"] == per["or"]


def test_every_round_issues_the_same_mix():
    draws = inputs.zipf_rounds(3, 4, 240)
    rounds = [Counter(i for i, _ in draws[r * 240:(r + 1) * 240]) for r in range(4)]
    assert all(c == rounds[0] for c in rounds)
    assert draws[:240] != draws[240:480]


def test_fresh_queries_follow_the_templates_in_both_modes():
    qs = inputs.fresh_queries(3, 4 * inputs.POOL_SIZE, 5)
    modes = Counter(m for _, m in qs)
    assert modes["and"] == modes["or"]
    lengths = Counter(min(len(tokenize_query(q)), 3) for q, _ in qs)
    assert lengths[1] == lengths[2] == lengths[3]
    assert len(set(qs)) > 0.5 * len(qs)


def test_deltas_are_disjoint_from_base_and_each_other():
    starts = inputs.delta_starts(11, 10_000, 100, 4)
    assert min(starts) >= 10_000
    spans = [set(range(s, s + 100)) for s in starts]
    assert all(not (a & b) for i, a in enumerate(spans) for b in spans[i + 1:])
