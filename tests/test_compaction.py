"""Incremental compaction: folding a postings delta into an existing
chunked index must decode identically to a full rebuild over the
unioned corpus, and serve identical query results."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import (
    compact_chunks,
    encode_chunks,
    merge_chunks,
)
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked

from tests.oracle_util import decoded_lists

N_OLD, N_ALL = 600, 900


def _postings_rows(lo, hi):
    rows = []
    for d in range(lo, hi):
        rows.append(("the", d, 1 + d % 3))
        if d % 4 == 0:
            rows.append(("mid", d, 1 + d % 2))
        if d % 250 == 3:
            rows.append(("rare", d, 2))
        if 600 <= d and d % 7 == 0:
            rows.append(("newterm", d, 1))  # term born in the delta
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    old = spark.createDataFrame(
        _postings_rows(0, N_OLD), "term string, doc_id long, tf long"
    )
    delta = spark.createDataFrame(
        _postings_rows(N_OLD, N_ALL), "term string, doc_id long, tf long"
    )
    full = spark.createDataFrame(
        _postings_rows(0, N_ALL), "term string, doc_id long, tf long"
    )
    old_chunks = encode_chunks(old, salt_threshold=64, chunk_blocks=1).cache()
    compacted_chunks = compact_chunks(
        old_chunks, delta, salt_threshold=64, chunk_blocks=1
    ).cache()
    full_chunks = encode_chunks(full, salt_threshold=64, chunk_blocks=1).cache()
    return {
        "compacted": merge_chunks(compacted_chunks).cache(),
        "compacted_chunks": compacted_chunks,
        "full": merge_chunks(full_chunks).cache(),
        "full_chunks": full_chunks,
        # whole-list rows (the merged layout): one unsalted chunk per term
        "full_unsalted": encode_chunks(full, heavy=[]).cache(),
        "rows": _postings_rows(0, N_ALL),
    }


def _decode(row):
    return decode_posting_list(
        bytes(row["payload"]),
        int(row["df"]),
        np.asarray(row["block_bytes"], dtype=np.int64),
        block_counts=np.asarray(row["block_counts"], dtype=np.int64),
    )


def test_compacted_decodes_like_full_rebuild(frames):
    comp = {r["term"]: r for r in frames["compacted"].collect()}
    full = {r["term"]: r for r in frames["full"].collect()}
    assert set(comp) == set(full) == {"the", "mid", "rare", "newterm"}
    for term in full:
        dc, tc = _decode(comp[term])
        df_, tf_ = _decode(full[term])
        np.testing.assert_array_equal(dc, df_)
        np.testing.assert_array_equal(tc, tf_)
        assert comp[term]["df"] == full[term]["df"]


def test_overlapping_delta_fails_fast(spark, frames):
    """A delta whose doc_ids overlap already-indexed docs (e.g. a
    replayed micro-batch) must raise, not silently corrupt the gap
    encoding with a negative first gap."""
    old = spark.createDataFrame(
        _postings_rows(0, N_OLD), "term string, doc_id long, tf long"
    )
    old_chunks = encode_chunks(old, salt_threshold=64, chunk_blocks=1)
    replay = spark.createDataFrame(
        _postings_rows(N_OLD - 50, N_OLD), "term string, doc_id long, tf long"
    )
    bad = merge_chunks(
        compact_chunks(old_chunks, replay, salt_threshold=64, chunk_blocks=1)
    )
    with pytest.raises(Exception, match="overlapping chunk doc ranges"):
        bad.collect()


def test_plan_compact_matches_full_rebuild(spark, tmp_path):
    """End-to-end plan: build 300 docs (default build, no flags),
    compact 100 more in, compare against a clean 400-doc build.  Doc
    ids may differ (compaction uses arrival order), so identity is
    checked on id-invariant artifacts: term stats, corpus stats, and
    (url, score) query results.  The rewritten merged export must
    still decode to the same lists as the rewritten index_chunks."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import (
        build,
        compact,
        load_stats,
    )
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root_c = str(tmp_path / "compacted")
    root_f = str(tmp_path / "full")
    build(spark, synthetic_docs_src(spark, 300), root_c)
    compact(spark, synthetic_docs_src(spark, 100, start=300), root_c)
    build(spark, synthetic_docs_src(spark, 400), root_f)

    cc, cf = Catalog(spark, root_c), Catalog(spark, root_f)
    a = {r["term"]: r["df"] for r in cc.read("index").select("term", "df").collect()}
    b = {r["term"]: r["df"] for r in cf.read("index").select("term", "df").collect()}
    assert a == b
    assert decoded_lists(cc.read("index")) == decoded_lists(
        cc.read("index_chunks")
    )
    ids = sorted(r["doc_id"] for r in cc.read("docs").select("doc_id").collect())
    assert ids == list(range(400))
    assert load_stats(spark, root_c) == load_stats(spark, root_f)

    def results(root):
        cat = Catalog(spark, root)
        docs = cat.read("docs")
        out = topk_bm25_chunked(
            spark,
            cat.read("index_chunks"),
            docs.select("doc_id", "doc_len"),
            load_stats(spark, root),
            "alpha beta",
            mode="and",
            k=100_000,
            round_digits=6,
        )
        return sorted(
            (r["url"], r["score"])
            for r in out.join(docs.select("doc_id", "url"), "doc_id").collect()
        )

    assert results(root_c) == results(root_f)

    # replaying the same delta must be rejected
    with pytest.raises(ValueError, match="replayed or overlapping"):
        compact(spark, synthetic_docs_src(spark, 100, start=300), root_c)
    # duplicate keys WITHIN a delta must be rejected (id-map fan-out)
    fresh = synthetic_docs_src(spark, 10, start=400)
    with pytest.raises(ValueError, match="duplicate .* keys"):
        compact(spark, fresh.unionAll(fresh), root_c)
    # empty delta: clean no-op
    compact(spark, fresh.limit(0), root_c)
    assert load_stats(spark, root_c)["n_docs"] == 400
    # orphan rows from a failed compact must be detected
    Catalog(spark, root_c).write(
        cc.read("docs").limit(1).withColumn(
            "doc_id", F.lit(400).cast("long")
        ),
        "docs",
        mode="append",
    )
    with pytest.raises(ValueError, match="orphans"):
        compact(spark, fresh, root_c)


def test_compacted_serves_identical_queries(spark, frames):
    docs = spark.range(N_ALL).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 40).cast("long").alias("doc_len"),
    )
    stats = {
        "n_docs": N_ALL,
        "sum_doc_len": sum(100 + d % 40 for d in range(N_ALL)),
    }
    for q, m in [("the newterm", "and"), ("mid rare the", "or")]:
        a = topk_bm25_chunked(
            spark, frames["full_unsalted"], docs, stats, q, mode=m, k=10,
            round_digits=6,
        ).collect()
        b = topk_bm25_chunked(
            spark, frames["full_chunks"], docs, stats, q, mode=m, k=10,
            round_digits=6,
        ).collect()
        c = topk_bm25_chunked(
            spark, frames["compacted_chunks"], docs, stats, q, mode=m, k=10,
            round_digits=6,
        ).collect()
        key = lambda rows: [(r["doc_id"], r["score"]) for r in rows]
        assert key(a) == key(b) == key(c)
        assert a


def test_compact_crash_before_publish_keeps_old_view(spark, tmp_path, monkeypatch):
    """Kill-between-writes simulation: a crash BEFORE the tables.json
    flip must leave readers on the old generation of EVERY table
    (chunks+index+stats publish together), and the next compact's
    orphan guard must name the pre-publish remediation."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 300), root)
    cat = Catalog(spark, root)
    stats_before = load_stats(spark, root)
    terms_before = {
        r["term"]: r["df"] for r in cat.read("index").select("term", "df").collect()
    }

    with monkeypatch.context() as m:
        def boom(self, mapping):
            raise RuntimeError("simulated crash before publish")

        m.setattr(Catalog, "publish", boom)
        with pytest.raises(RuntimeError, match="before publish"):
            compact(spark, synthetic_docs_src(spark, 100, start=300), root)

    # old view fully intact: generation dirs exist but are unreferenced
    assert load_stats(spark, root) == stats_before
    terms_after = {
        r["term"]: r["df"] for r in cat.read("index").select("term", "df").collect()
    }
    assert terms_after == terms_before

    # orphan guard: names the pre-publish state and the docs remediation
    with pytest.raises(ValueError, match="crashed before publishing"):
        compact(spark, synthetic_docs_src(spark, 50, start=400), root)

    # remediate exactly as the message says, then the same delta folds in
    keep = cat.read("docs").filter(F.col("doc_id") < 300).toPandas()
    cat.write(spark.createDataFrame(keep, cat.read("docs").schema), "docs")
    compact(spark, synthetic_docs_src(spark, 100, start=300), root)
    assert load_stats(spark, root)["n_docs"] == 400


def test_compact_crash_after_publish_is_consistent(spark, tmp_path, monkeypatch):
    """A crash AFTER the pointer flip (before manifest bookkeeping)
    leaves a fully consistent NEW view — docs, index and stats all
    contain the delta — and the next compact clears the stale journal
    and proceeds."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import (
        BuildManifest,
        build,
        compact,
        load_stats,
    )
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 300), root)

    real_record = BuildManifest.record

    with monkeypatch.context() as m:
        def crash_on_compact(self, name, fingerprint, metrics):
            if name == "compact":
                raise RuntimeError("simulated crash after publish")
            return real_record(self, name, fingerprint, metrics)

        m.setattr(BuildManifest, "record", crash_on_compact)
        with pytest.raises(RuntimeError, match="after publish"):
            compact(spark, synthetic_docs_src(spark, 100, start=300), root)

    # the new generation IS the published view: everything consistent
    cat = Catalog(spark, root)
    stats = load_stats(spark, root)
    assert stats["n_docs"] == 400
    assert cat.read("docs").count() == 400
    journal = BuildManifest(root).data.get("compact_journal")
    assert journal and journal["stage"] == "published"

    # next compact: journal cleared (no orphans), fresh delta folds in
    compact(spark, synthetic_docs_src(spark, 50, start=400), root)
    assert load_stats(spark, root)["n_docs"] == 450
    assert BuildManifest(root).data.get("compact_journal") is None


def test_compact_delta_repartition_bounded_by_cores(spark, tmp_path, monkeypatch):
    """The delta re-tokenize path must bound its repartition target by
    the machine's core count, exactly like the fresh build
    (plans/build.py tok_par): repartitioning an under-split delta to a
    data-sized shuffle-partition target (e.g. 240) re-shuffles every
    content byte for zero extra concurrency — at 30M docs that second
    full-content shuffle alone overflowed a single node's disk (the r5
    fresh-path fix; this pins its compact() twin)."""
    import invertedindexbuilder_spark.plans.build as build_mod
    from invertedindexbuilder_spark.plans.build import build, compact
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 200), root)

    seen: list[int] = []
    real = build_mod.build_postings  # the r8 'arrow' default path

    def spy(df, *a, **kw):
        seen.append(df.rdd.getNumPartitions())
        return real(df, *a, **kw)

    monkeypatch.setattr(build_mod, "build_postings", spy)
    # an under-split delta (coalesce to 1) + an oversized partition
    # target: the tokenize input must land on <= core count, never 64
    compact(
        spark,
        synthetic_docs_src(spark, 60, start=200).coalesce(1),
        root,
        num_partitions=64,
    )
    cores = spark.sparkContext.defaultParallelism
    assert seen, "tokenize path not exercised"
    assert all(1 <= p <= cores for p in seen), (seen, cores)
