import pytest

from invertedindexbuilder_spark.operators.query_exec import tokenize_query
from perfbench import inputs
from perfbench.oracle import Oracle
from tests.oracle_util import CorpusOracle


def _queries(seed):
    return [(q, m) for q in inputs.query_pool(seed) for m in ("and", "or")] + [
        ("common", "or"), ("nolex0001", "and")]


@pytest.mark.parametrize("seed", [42, 5])
def test_vectorized_topk_equals_spec_oracle(seed):
    fast = Oracle(600, seed)
    spec = CorpusOracle(600, seed)
    for q, mode in _queries(seed):
        terms = tokenize_query(q)
        got = fast.topk(terms, mode, 10)
        want = spec.topk(terms, mode, 10)
        assert [d for d, _ in got] == [d for d, _ in want], (q, mode)
        assert got == pytest.approx(want, rel=1e-12), (q, mode)


def test_extend_scores_like_the_whole_corpus():
    # rows [0, 300) then a delta of rows [300, 340): the same documents as
    # the spec oracle over 340 rows, numbered differently, so compare the
    # full score lists by url
    ext = Oracle(300, 42)
    ext.extend(inputs.delta_rows(300, 40, 42))
    whole = CorpusOracle(340, 42)
    assert ext.n_docs == 340 and list(ext.pdf.doc_id) == list(range(340))
    assert sorted(ext.pdf.doc_id[300:]) == list(range(300, 340))
    for q, mode in _queries(42):
        terms = tokenize_query(q)
        got = {ext.pdf.url[d]: s for d, s in ext.topk(terms, mode, 340)}
        want = {whole.pdf.url[d]: s for d, s in whole.topk(terms, mode, 340)}
        assert got == pytest.approx(want, rel=1e-12), (q, mode)


def test_excluded_ids_are_dropped_after_scoring():
    o = Oracle(300, 42)
    full = o.topk(["common"], "or", 20)
    gone = {full[0][0], full[3][0]}
    assert o.topk(["common"], "or", 18, exclude=gone) == [r for r in full if r[0] not in gone]


def test_counts_match_postings():
    o = Oracle(300, 42)
    table = o.postings_table()
    assert o.n_postings == len(table)
    assert o.n_terms == table.term.nunique()
