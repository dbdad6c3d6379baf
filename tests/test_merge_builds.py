"""Federated index merge (plans.build.merge_builds +
operators.index_build.shift_chunks): two independent shard builds
merge into one index that answers queries identically to a single
build over the unioned corpus — with only one varbyte rewritten per
chunk."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import shift_chunks
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.plans.build import (
    build,
    load_stats,
    merge_builds,
)
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

N_A, N_B = 200, 150


def _decode_all(rows):
    out = {}
    for r in rows:
        docs, tfs = decode_posting_list(
            bytes(r["payload"]),
            int(r["df"]),
            np.array(r["block_bytes"]),
            block_counts=np.array(r["block_counts"]),
        )
        out.setdefault(r["term"], []).append(
            (int(r["first_doc_id"]), docs.tolist(), tfs.tolist())
        )
    return out


def test_shift_chunks_decode_identity(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 80), tmp_out)
    chunks = Catalog(spark, tmp_out).read("index_chunks")
    before = _decode_all(chunks.collect())
    after = _decode_all(shift_chunks(chunks, 1000).collect())
    assert set(before) == set(after)
    for term in before:
        b = sorted(before[term])
        a = sorted(after[term])
        for (fb, db, tb), (fa, da, ta) in zip(b, a, strict=True):
            assert fa == fb + 1000
            assert da == [x + 1000 for x in db]
            assert ta == tb


def test_shift_chunks_plan_has_no_exchange(spark, tmp_out):
    """The rebase is narrow: reading chunks -> patched chunks must plan
    without any shuffle exchange (the metadata-only-merge guarantee)."""
    build(spark, synthetic_docs_src(spark, 40), tmp_out)
    chunks = Catalog(spark, tmp_out).read("index_chunks")
    plan = (
        shift_chunks(chunks, 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_shift_zero_is_identity(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 40), tmp_out)
    chunks = Catalog(spark, tmp_out).read("index_chunks")
    assert shift_chunks(chunks, 0) is chunks
    with pytest.raises(ValueError):
        shift_chunks(chunks, -1)


@pytest.fixture(scope="module")
def merged_roots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("fed")
    ra, rb, out, full = (str(base / n) for n in ("a", "b", "m", "full"))
    # low salt threshold: multi-chunk terms exist in BOTH shards, so the
    # shift really exercises multi-chunk delta chains
    build(
        spark, synthetic_docs_src(spark, N_A), ra,
        salt_threshold=70, chunk_blocks=1,
    )
    build(
        spark, synthetic_docs_src(spark, N_B, start=N_A), rb,
        salt_threshold=70, chunk_blocks=1,
    )
    merge_builds(spark, ra, rb, out)
    build(
        spark, synthetic_docs_src(spark, N_A + N_B), full,
        salt_threshold=70, chunk_blocks=1,
    )
    return ra, rb, out, full


def test_merged_stats_match_union_build(spark, merged_roots):
    _, _, out, full = merged_roots
    assert load_stats(spark, out) == load_stats(spark, full)


def test_merged_queries_match_union_build(spark, merged_roots):
    """(url, score) sets are identical — doc_id ASSIGNMENT differs
    (shard order vs global key order), which is exactly why scores and
    urls, not ids, are the invariant."""
    _, _, out, full = merged_roots

    def by_url(root):
        cat = Catalog(spark, root)
        docs = cat.read("docs")
        res = topk_bm25_chunked(
            spark,
            cat.read("index_chunks"),
            docs.select("doc_id", "doc_len"),
            load_stats(spark, root),
            "common alpha beta",
            mode="or",
            k=100_000,
            round_digits=6,
        )
        return sorted(
            (r["url"], r["score"])
            for r in res.join(docs.select("doc_id", "url"), "doc_id").collect()
        )

    assert by_url(out) == by_url(full)


def test_merged_build_accepts_compaction_delta(spark, merged_roots, tmp_path):
    """Composition: a federated-merged root is a normal chunked build —
    compact() folds a delta into it, and stats equal a clean build over
    shardA + shardB + delta."""
    import shutil

    from invertedindexbuilder_spark.plans.build import compact

    _, _, out, _ = merged_roots
    root = str(tmp_path / "m2")
    shutil.copytree(out, root)
    n_delta = 60
    compact(
        spark, synthetic_docs_src(spark, n_delta, start=N_A + N_B), root
    )
    full = str(tmp_path / "full2")
    build(spark, synthetic_docs_src(spark, N_A + N_B + n_delta), full)
    got, want = load_stats(spark, root), load_stats(spark, full)
    # layout-independent stats (terms/doc counts/postings); payload
    # geometry legitimately differs across salting layouts
    assert got == want


def test_merge_rejects_overlapping_shards(spark, merged_roots, tmp_path):
    ra, _, _, _ = merged_roots
    with pytest.raises(ValueError, match="share"):
        merge_builds(spark, ra, ra, str(tmp_path / "bad"))


def test_merge_refuses_in_place_output(spark, merged_roots, tmp_path):
    ra, rb, _, _ = merged_roots
    with pytest.raises(ValueError, match="differ from both shard roots"):
        merge_builds(spark, ra, rb, ra)


def test_merge_accepts_default_builds(spark, tmp_path):
    """Two default build() roots (no flags) merge directly; the output
    stores no merged ``index`` table, and its per-term view merged on
    demand decodes like its chunks."""
    from invertedindexbuilder_spark.operators.index_build import merge_chunks

    from tests.oracle_util import decoded_lists

    ra, rb, out, full = (str(tmp_path / n) for n in ("a", "b", "m", "full"))
    build(spark, synthetic_docs_src(spark, 30), ra)
    build(spark, synthetic_docs_src(spark, 20, start=30), rb)
    merge_builds(spark, ra, rb, out)
    build(spark, synthetic_docs_src(spark, 50), full)
    assert load_stats(spark, out) == load_stats(spark, full)
    cat = Catalog(spark, out)
    assert not cat.exists("index") and "index" not in cat.mappings()
    assert decoded_lists(merge_chunks(cat.read("index_chunks"))) == decoded_lists(
        cat.read("index_chunks")
    )
