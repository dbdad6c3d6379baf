"""Physical-plan regression guards: the scale properties argued in
BENCH/PLANS.md are asserted on the optimizer output itself, so a
refactor that silently reintroduces a payload-row exchange or a window
over chunk rows fails CI, not a 100x production run."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.postings import build_postings_jvm
from invertedindexbuilder_spark.operators.query_exec import lookup_chunk_rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_exchanges(plan: str) -> int:
    # 'Exchange hashpartitioning(...)' etc; BroadcastExchange excluded
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hash|range|Single)", plan))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plans"))
    rows = []
    for d in range(400):
        rows.append(("the", d, 1))
        if d % 3 == 0:
            rows.append(("mid", d, 2))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    encode_chunks(postings, salt_threshold=64, chunk_blocks=1).write.parquet(
        root + "/chunks"
    )
    return {"chunks": spark.read.parquet(root + "/chunks")}


def test_tokenize_plan_is_one_exchange_no_window(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    ).withColumnRenamed("text", "content")
    plan = _plan(build_postings_jvm(docs))
    assert _shuffle_exchanges(plan) == 1  # the (term, doc_id) agg only
    assert "Window" not in plan


def test_chunk_lookup_single_payload_scan(tables):
    """r4: the winner/df metadata is collected driver-side during
    lookup (one payload-free aggregate job), so the RETURNED plan holds
    exactly ONE chunk-table scan — the payload-bearing decode feed —
    and no non-broadcast exchange carries payload bytes."""
    plan = _plan(lookup_chunk_rows(tables["chunks"], ["the", "mid"], strict=True))
    assert "Window" not in plan
    for m in re.finditer(r"(?<!Broadcast)Exchange [^\n]*", plan):
        assert "payload" not in m.group(0)
    scans = re.findall(r"FileScan parquet \[[^\]]*\]", plan)
    assert len(scans) == 1
    assert "payload#" in scans[0]
    # term-range pushdown reaches the scan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(term," in plan


def test_engaged_and_scans_rare_list_once(spark, tables):
    """The conjunctive candidate pass collects the rare list's postings
    once: the final plan of an engaged single-query AND scans the chunk
    table only for the other term, and the rare postings (and the
    candidates' doc_lens) arrive as local relations."""
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )

    docs = tables["chunks"].sparkSession.range(400).select(
        F.col("id").alias("doc_id"), F.lit(100).cast("long").alias("doc_len")
    )
    stats = {"n_docs": 400, "sum_doc_len": 40_000}
    res = topk_bm25_chunked(
        spark, tables["chunks"], docs, stats, "mid the", mode="and", k=5,
        and_prune=True,
    )
    plan = _plan(res)
    scans = re.findall(r"FileScan parquet [^\n]*", plan)
    assert len(scans) == 1, plan
    assert "(term,the" in scans[0], scans[0]
    assert "mid" not in scans[0], scans[0]
    assert "LocalTableScan" in plan, plan
    assert len(res.collect()) == 5


def test_bucketed_docs_join_shuffles_only_the_decoded_side(spark, tmp_path):
    """SCALE.md's doc_len-join fix: with the docs table BUCKETED by
    doc_id, the scoring join shuffles only the decoded-postings side —
    the docs-side exchange disappears from every query."""
    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 40).cast("long").alias("doc_len"),
    )
    decoded = spark.range(50_000).select(
        (F.col("id") % 10_000).alias("doc_id"),
        (F.col("id") % 5 + 1).alias("tf"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

        plain = decoded.join(docs, "doc_id")
        plain.count()
        base = _shuffle_exchanges(_plan(plain))
        assert base == 2  # both sides exchange without bucketing

        cat.write_bucketed(docs, "docs_bucketed_test", "doc_id", n_buckets)
        bucketed = decoded.join(cat.read_bucketed("docs_bucketed_test"), "doc_id")
        bucketed.count()
        assert _shuffle_exchanges(_plan(bucketed)) == 1  # decoded side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS docs_bucketed_test")


def test_or_ioprune_pushes_scan_filters(spark, tmp_path, monkeypatch):
    """OR candidate pass plan contract, for either IDF sign of the
    heavy list: (a) the surviving-chunk In-list reaches the heavy
    candidate scan's PushedFilters (skipped chunks are skipped READS),
    and (b) once the bound check passes, every surviving posting row
    and candidate doc_len is already on the driver, so the returned
    frame reads LOCAL relations only — no parquet scan at all and no
    corpus-scale doc_len shuffle."""
    from invertedindexbuilder_spark.operators import query_exec as qe

    rows = []
    for d in range(4000):
        if d % 2 == 0:  # df = N/2: idf == 0
            rows.append(("stopneg", d, 1 + d % 3))
        if d % 4 == 0:  # df = N/4: idf > 0
            rows.append(("stoppos", d, 1 + d % 3))
        if d % 400 == 7:
            rows.append(("needle", d, 2))  # df 10, scattered, idf > 0
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    encode_chunks(postings, salt_threshold=256, chunk_blocks=1).write.parquet(
        str(tmp_path / "ch")
    )
    spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.lit(50) + F.col("id") % 9).cast("long").alias("doc_len"),
    ).write.parquet(str(tmp_path / "docs"))
    chunks = spark.read.parquet(str(tmp_path / "ch"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    stats = {"n_docs": 4000, "sum_doc_len": sum(50 + d % 9 for d in range(4000)),
             "min_doc_len": 50}

    heavy_scans = []
    real = qe.decode_candidate_blocks

    def spy(matched, *a, **kw):
        heavy_scans.append(_plan(matched))
        return real(matched, *a, **kw)

    monkeypatch.setattr(qe, "decode_candidate_blocks", spy)
    for heavy in ("stoppos", "stopneg"):
        heavy_scans.clear()
        res = qe.topk_bm25_chunked(
            spark, chunks, docs, stats, f"needle {heavy}", mode="or", k=10,
            or_prune=True, heavy_df=64,
        )
        [scan] = heavy_scans
        assert re.search(r"PushedFilters: \[[^\]]*In\(first_doc_id", scan), scan
        plan = _plan(res)
        assert "LocalTableScan" in plan, plan
        assert "Scan parquet" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert len(res.collect()) == 10


def test_and_doc_range_bound_is_two_sided(spark, tmp_path):
    """A non-engaged AND bounds its chunk scan by the rarest list's doc
    range on BOTH sides: chunks past its last doc and chunks before its
    first doc leave the plan before the decode.  Results equal the spec
    oracle."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.query_exec import (
        tokenize_query,
        topk_bm25_chunked,
    )
    from invertedindexbuilder_spark.plans.build import build, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    from tests.oracle_util import CorpusOracle

    out = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, 400), out)
    cat = Catalog(spark, out)
    oracle = CorpusOracle(400)
    query = "hello common"
    rare = sorted(oracle.postings["hello"])
    assert 0 < rare[0] and rare[-1] < 399
    res = topk_bm25_chunked(
        spark, cat.read("index_chunks"), cat.read("docs"),
        load_stats(spark, out), query, mode="and", k=10, and_prune=False,
    )
    plan = _plan(res)
    assert "(first_doc_id#" in plan and f"<= {rare[-1]})" in plan, plan
    assert re.search(
        rf"element_at\(last_doc_ids#\d+, -1[^)]*\) >= {rare[0]}\)", plan
    ), plan
    got = [(r["doc_id"], r["score"]) for r in res.collect()]
    want = oracle.topk(tokenize_query(query), "and", 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12)


def test_chunk_table_files_are_term_clustered(spark, tmp_path):
    """r7 layout contract: the stored chunk table is term-range
    clustered (repartitionByRange at write), so per-FILE term min/max
    stats stay tight and a pushed term predicate prunes files instead
    of reading a random subset of every file (measured cold on the 30M
    index: 693 MB -> 19 MB for a one-chunk probe; BENCH/SCALE.md).
    Pinned structurally: file term-ranges, ordered by their min, may
    overlap only at adjacent boundaries (a heavy term spanning files),
    never nest arbitrarily like the old hash layout."""
    from pyspark.sql import functions as F

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "idx")
    # AQE rightly coalesces a KB-scale test table into one file; hold
    # the range partitions open so there are multiple files to check
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        build(spark, synthetic_docs_src(spark, 600), root, num_partitions=8)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    chunks = Catalog(spark, root).read("index_chunks")
    spans = (
        chunks.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("term").alias("lo"), F.max("term").alias("hi"))
        .collect()
    )
    spans = sorted(((r["lo"], r["hi"]) for r in spans))
    assert len(spans) > 1, "need multiple files to pin clustering"
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        # disjoint, or touching exactly at one boundary term
        assert hi1 <= lo2 or (hi1 == lo2 and lo1 != lo2), (spans,)
