"""Capstone composition: curate base -> build index -> curate delta
(against stored fingerprints) -> compact curated delta into the index,
and the result answers queries identically to curating the UNION in
one shot and building clean.  Every incremental surface (keep-list
views, id offsets, fingerprint append, compaction) must line up for
this to hold."""

from __future__ import annotations

from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.plans.build import build, compact, load_stats
from invertedindexbuilder_spark.plans.curate import (
    curate,
    curate_delta,
    curated_docs,
)
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

N_BASE, N_DELTA = 200, 100
KNOBS = dict(langs=None, min_quality=None, max_dup_word_frac=None,
             near_dup_threshold=0.6)


def _by_url(spark, root, query="common alpha beta"):
    cat = Catalog(spark, root)
    docs = cat.read("docs")
    res = topk_bm25_chunked(
        spark, cat.read("index_chunks"), docs.select("doc_id", "doc_len"),
        load_stats(spark, root), query, mode="or", k=100_000, round_digits=6,
    )
    return sorted(
        (r["url"], r["score"])
        for r in res.join(docs.select("doc_id", "url"), "doc_id").collect()
    )


def test_incremental_pipeline_equals_one_shot(spark, tmp_path):
    base = synthetic_docs_src(spark, N_BASE)
    delta = synthetic_docs_src(spark, N_DELTA, start=N_BASE)
    union = synthetic_docs_src(spark, N_BASE + N_DELTA)
    croot, iroot = str(tmp_path / "cur"), str(tmp_path / "idx")
    croot2, iroot2 = str(tmp_path / "cur2"), str(tmp_path / "idx2")

    # incremental path
    m = curate(spark, base, croot, **KNOBS)
    base_in = int(m["phases"]["curate"]["docs_in"])
    build(spark, curated_docs(spark, base, croot), iroot)
    curate_delta(spark, delta, croot, base_src=base, langs=None,
                 min_quality=None, max_dup_word_frac=None,
                 near_dup_threshold=0.6)
    compact(
        spark,
        curated_docs(spark, delta, croot, id_offset=base_in),
        iroot,
    )

    # one-shot path
    curate(spark, union, croot2, **KNOBS)
    build(spark, curated_docs(spark, union, croot2), iroot2)

    # same survivor corpus -> same stats and same (url, score) answers
    assert load_stats(spark, iroot) == load_stats(spark, iroot2)
    assert _by_url(spark, iroot) == _by_url(spark, iroot2)


def test_incremental_pipeline_drops_cross_corpus_dups(spark, tmp_path):
    """A delta that replays base content must not re-enter the index:
    the synthetic corpus plants empty/'.'-docs at fixed residues, so a
    delta slice re-plants content the base already curated."""
    base = synthetic_docs_src(spark, 300)
    delta = synthetic_docs_src(spark, 150, start=300)
    croot, iroot = str(tmp_path / "c"), str(tmp_path / "i")
    m0 = curate(spark, base, croot, **KNOBS)
    build(spark, curated_docs(spark, base, croot), iroot)
    m = curate_delta(spark, delta, croot, base_src=base, langs=None,
                     min_quality=None, max_dup_word_frac=None,
                     near_dup_threshold=0.6)
    ph = [v for k, v in m["phases"].items() if k.startswith("curate_delta")][0]
    assert ph["removed_exact_dup_base"] > 0
    compact(
        spark,
        curated_docs(
            spark, delta, croot,
            id_offset=int(m0["phases"]["curate"]["docs_in"]),
        ),
        iroot,
    )
    # the indexed corpus has no duplicated content at all
    docs = Catalog(spark, iroot).read("docs")
    assert (
        docs.groupBy("content_sha256").count().filter(F.col("count") > 1).count()
        == 0
    )
