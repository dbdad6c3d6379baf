"""Tree-merge (bounded-fanin chunk assembly) and the stored layout: a
one-row-per-term merge of a stopword's chunks is a 100x-scale breaker
when one group assembles every chunk row — these pin (a) fanin-bounded
merge equivalence, (b) that no merge task ever holds more than fanin
chunk rows, and (c) that every write path keeps ``index_chunks`` as the
only stored index table, end to end."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import (
    _partial_merge,
    encode_chunks,
    merge_chunks,
)
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked

N_DOCS = 3000


@pytest.fixture(scope="module")
def many_chunks(spark):
    """'dense' appears in every doc -> with chunk_blocks=1 (128-doc
    chunks) it spans ~24 chunks; 'sparse' in every 5th doc."""
    rows = []
    for d in range(N_DOCS):
        rows.append(("dense", d, 1 + d % 4))
        if d % 5 == 0:
            rows.append(("sparse", d, 2))
        if d % 1000 == 1:
            rows.append(("rare", d, 1))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    return encode_chunks(postings, salt_threshold=64, chunk_blocks=1).cache()


def _decode(row):
    return decode_posting_list(
        bytes(row["payload"]),
        int(row["df"]),
        np.asarray(row["block_bytes"], dtype=np.int64),
        block_counts=np.asarray(row["block_counts"], dtype=np.int64),
    )


def test_tree_merge_equals_flat_merge(many_chunks):
    flat = {r["term"]: r for r in merge_chunks(many_chunks).collect()}
    tree = {r["term"]: r for r in merge_chunks(many_chunks, fanin=4).collect()}
    assert set(flat) == set(tree)
    for term in flat:
        a, b = flat[term], tree[term]
        assert a["df"] == b["df"]
        assert bytes(a["payload"]) == bytes(b["payload"])
        assert list(a["last_doc_ids"]) == list(b["last_doc_ids"])
        assert list(a["block_bytes"]) == list(b["block_bytes"])
        assert list(a["block_counts"]) == list(b["block_counts"])
        assert list(a["max_tf"]) == list(b["max_tf"])
        da, ta = _decode(a)
        db, tb = _decode(b)
        np.testing.assert_array_equal(da, db)
        np.testing.assert_array_equal(ta, tb)


def test_partial_merge_bounds_group_row_count(spark, many_chunks):
    fanin = 4
    n_chunks = {
        r["term"]: r["n"]
        for r in many_chunks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert n_chunks["dense"] > fanin  # the scenario under test
    supers = _partial_merge(many_chunks, fanin)
    got = {
        r["term"]: r["n"]
        for r in supers.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    for term, n in n_chunks.items():
        assert got[term] == -(-n // fanin)  # ceil(n/fanin) super-chunks
    # every super-chunk covers at most fanin chunks => the FINAL merge
    # group for 'dense' shrinks from ~24 rows to ceil(24/4)=6
    per_super = supers.select("term", F.size("block_counts")).collect()
    assert all(r[1] >= 1 for r in per_super)


def _chunks_only(cat):
    """index_chunks is stored; no merged ``index`` table and no pointer
    to one."""
    return (
        cat.exists("index_chunks")
        and not cat.exists("index")
        and "index" not in cat.mappings()
    )


def test_chunk_only_build_serves_and_compacts(spark, tmp_path):
    """A default build writes no 'index' table; queries serve from
    chunks; compact() and purge_deletes() keep the chunk-only layout;
    asking build for the old merged export raises."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.plans.deletes import delete_docs, purge_deletes
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    with pytest.raises(ValueError, match="merge_chunks"):
        build(spark, synthetic_docs_src(spark, 300),
              str(tmp_path / "refused"), merged=True)

    root = str(tmp_path / "chunkonly")
    build(spark, synthetic_docs_src(spark, 300), root)
    cat = Catalog(spark, root)
    assert _chunks_only(cat)
    stats = load_stats(spark, root)
    assert stats["n_docs"] == 300

    docs = cat.read("docs").select("doc_id", "doc_len")
    out1 = topk_bm25_chunked(
        spark, cat.read("index_chunks"), docs, stats,
        "alpha beta", mode="and", k=10, round_digits=6,
    ).collect()
    assert out1

    compact(spark, synthetic_docs_src(spark, 100, start=300), root)
    assert _chunks_only(cat)  # layout preserved
    stats2 = load_stats(spark, root)
    assert stats2["n_docs"] == 400

    # compacted result == full rebuild, query-for-query
    root_f = str(tmp_path / "full")
    build(spark, synthetic_docs_src(spark, 400), root_f)
    cat_f = Catalog(spark, root_f)
    assert _chunks_only(cat_f)
    stats_f = load_stats(spark, root_f)
    assert stats2 == stats_f
    docs2 = cat.read("docs").select("doc_id", "doc_len")

    def urls(root_cat, res):
        d = root_cat.read("docs").select("doc_id", "url")
        return sorted((r["url"], r["score"]) for r in res.join(d, "doc_id").collect())

    a = urls(
        cat,
        topk_bm25_chunked(
            spark, cat.read("index_chunks"), docs2, stats2,
            "alpha beta", mode="or", k=100_000, round_digits=6,
        ),
    )
    b = urls(
        cat_f,
        topk_bm25_chunked(
            spark, cat_f.read("index_chunks"),
            cat_f.read("docs").select("doc_id", "doc_len"), stats_f,
            "alpha beta", mode="or", k=100_000, round_digits=6,
        ),
    )
    assert a == b

    delete_docs(spark, root, [3, 17, 350])
    purge_deletes(spark, root)
    assert load_stats(spark, root)["n_docs"] == 397
    assert _chunks_only(cat)


def test_local_session_serves_chunk_only_build(spark, tmp_path):
    """The driver-local query session over a default (chunk-only) build
    assembles the per-term view in driver memory and answers like the
    spec oracle."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.operators.query_exec import tokenize_query
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    from tests.oracle_util import CorpusOracle

    root_c = str(tmp_path / "chunkonly")
    build(spark, synthetic_docs_src(spark, 250), root_c)
    li_c, oracle = LocalIndex(root_c), CorpusOracle(250)
    for q, m in [("alpha beta", "and"), ("common alpha gamma", "or")]:
        a = topk_local(li_c, q, mode=m, k=10)
        b = oracle.topk(tokenize_query(q), m, 10)
        assert [d for d, _ in a] == [d for d, _ in b], (q, m)
        for (_, sa), (_, sb) in zip(a, b):
            assert abs(sa - sb) <= 1e-9 * max(1.0, abs(sb)), (q, m)
        assert a
