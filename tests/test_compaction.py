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
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.operators.query_exec import (
    tokenize_query,
    topk_bm25_chunked,
)

from tests.oracle_util import CorpusOracle, decoded_lists

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
    (url, score) query results.  The per-term view merged on demand
    from the rewritten index_chunks must decode to the same lists as
    those chunks."""
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
    # a session opened before the fold caches its snapshot's answer
    before = LocalIndex(root_c)
    cached = topk_local(before, "alpha beta", mode="and", k=100_000)
    compact(spark, synthetic_docs_src(spark, 100, start=300), root_c)
    build(spark, synthetic_docs_src(spark, 400), root_f)

    cc, cf = Catalog(spark, root_c), Catalog(spark, root_f)
    merged_c = merge_chunks(cc.read("index_chunks"))
    merged_f = merge_chunks(cf.read("index_chunks"))
    a = {r["term"]: r["df"] for r in merged_c.select("term", "df").collect()}
    b = {r["term"]: r["df"] for r in merged_f.select("term", "df").collect()}
    assert a == b
    assert decoded_lists(merged_c) == decoded_lists(cc.read("index_chunks"))
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
    # the driver-local session serves the folded terms' several chunks
    # (old + delta) with the same answers
    assert cc.read("index_chunks").filter(F.col("term") == "alpha").count() > 1
    li = LocalIndex(root_c)
    docs = cc.read("docs").select("doc_id", "url").collect()
    urls = {r["doc_id"]: r["url"] for r in docs}
    local = sorted(
        (urls[d], s)
        for d, s in topk_local(li, "alpha beta", mode="and", k=100_000)
    )
    want = results(root_c)
    assert [u for u, _ in local] == [u for u, _ in want]
    for (_, s), (_, r) in zip(local, want):
        assert abs(s - r) <= 1e-6
    # the folded snapshot answers the query the old session had cached
    # with its own results: the 400-doc oracle's; the old session keeps
    # its 300-doc answer
    oracle = CorpusOracle(400)
    ourl = oracle.pdf.url.to_numpy()
    want_o = sorted(
        (ourl[d], s)
        for d, s in oracle.topk(tokenize_query("alpha beta"), "and", 100_000)
    )
    assert [u for u, _ in local] == [u for u, _ in want_o]
    for (_, s), (_, r) in zip(local, want_o):
        assert abs(s - r) <= 1e-9 * max(1.0, abs(r))
    assert topk_local(before, "alpha beta", mode="and", k=100_000) == cached
    assert before.cache_hits == 1 and len(cached) < len(local)

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
    (chunks+stats publish together), and the next compact's
    orphan guard must name the pre-publish remediation."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 300), root)
    cat = Catalog(spark, root)
    stats_before = load_stats(spark, root)

    def term_dfs():
        return {
            r["term"]: r["sum(df)"]
            for r in cat.read("index_chunks").groupBy("term").sum("df").collect()
        }

    terms_before = term_dfs()

    with monkeypatch.context() as m:
        def boom(self, mapping):
            raise RuntimeError("simulated crash before publish")

        m.setattr(Catalog, "publish", boom)
        with pytest.raises(RuntimeError, match="before publish"):
            compact(spark, synthetic_docs_src(spark, 100, start=300), root)

    # old view fully intact: generation dirs exist but are unreferenced
    assert load_stats(spark, root) == stats_before
    assert term_dfs() == terms_before

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
    leaves a fully consistent NEW view — docs, index_chunks and stats all
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


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted through the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{id(fn)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# jobs a 20-doc fold into a 200-doc chunk-only build runs: load_stats 1,
# validation 3, delta doc ids 6, docs append 2, delta aggregate 2, delta
# encode + chunk generation write 5, index metadata aggregate 3, stats
# write 1, other 1; measured at 24 on 4 and 8 cores
FOLD_JOB_BUDGET = 24


def test_small_fold_job_budget(spark, tmp_path):
    """The fold's job diet: a small delta runs no salting resolution,
    one validation action, no docs fingerprint pass and no schema-
    inference jobs."""
    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 200), root)
    delta = synthetic_docs_src(spark, 20, start=200)
    jobs = _jobs_run_by(spark, lambda: compact(spark, delta, root))
    assert load_stats(spark, root)["n_docs"] == 220
    assert jobs <= FOLD_JOB_BUDGET, jobs


def test_salting_floor_skip_gives_resolved_chunk_rows(spark, frames, monkeypatch):
    """A delta with no more docs than the salting floor skips the skew
    resolution and encodes exactly the chunk rows a resolved policy
    gives; a larger one (or a lower caller threshold) still resolves."""
    import invertedindexbuilder_spark.operators.index_build as ib

    schema = "term string, doc_id long, tf long"
    delta = spark.createDataFrame(_postings_rows(N_OLD, N_ALL), schema)
    old = encode_chunks(
        spark.createDataFrame(_postings_rows(0, N_OLD), schema), heavy=[]
    )
    n_delta = N_ALL - N_OLD
    assert ib.salting_floor_policy(n_delta, None, None) == (
        ib.MIN_SALT_THRESHOLD, ib.MIN_SALT_THRESHOLD // ib.BLOCK_SIZE, []
    )
    assert ib.salting_floor_policy(ib.MIN_SALT_THRESHOLD + 1, None, None) is None
    assert ib.salting_floor_policy(n_delta, 64, 1) is None  # 300 docs > 64

    def rows(df):
        return sorted(
            (r["term"], r["salt"], r["first_doc_id"], r["df"],
             list(r["last_doc_ids"]), list(r["block_bytes"]),
             list(r["block_counts"]), list(r["max_tf"]), bytes(r["payload"]))
            for r in df.collect()
        )

    resolved = rows(compact_chunks(old, delta))  # resolution forced
    calls = []
    real = ib.resolve_salting
    monkeypatch.setattr(
        ib, "resolve_salting", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    skipped = rows(compact_chunks(old, delta, n_delta_docs=n_delta))
    assert not calls
    assert skipped == resolved
    # a caller threshold below the delta size keeps the exact counts
    salted = compact_chunks(
        old, delta, salt_threshold=64, chunk_blocks=1, n_delta_docs=n_delta
    )
    assert decoded_lists(salted) == decoded_lists(frames["compacted_chunks"])
    assert salted.filter(F.col("salt") > 0).count() > 0


def test_compact_stats_without_min_doc_len_falls_back(spark, tmp_path):
    """A stats table written before min_doc_len existed reads that
    column as null under the catalog's schema'd reads, and compact()
    recomputes the running minimum from the old docs."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 120), root)
    cat = Catalog(spark, root)
    old_stats = load_stats(spark, root)
    legacy = spark.createDataFrame(
        [tuple(old_stats[c] for c in ("n_docs", "sum_doc_len", "n_terms", "n_postings"))],
        "n_docs long, sum_doc_len long, n_terms long, n_postings long",
    )
    legacy.write.mode("overwrite").parquet(cat.path("stats"))
    assert load_stats(spark, root)["min_doc_len"] is None
    compact(spark, synthetic_docs_src(spark, 30, start=120), root)
    want = cat.read("docs").agg(F.min("doc_len")).collect()[0][0]
    assert load_stats(spark, root)["min_doc_len"] == want
