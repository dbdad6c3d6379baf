"""Scatter-gather sharded BM25 serving (operators/sharding.py): a
query over N independent shard indexes must answer IDENTICALLY to the
same query over one index built on the union corpus — global df /
N / d_avr / D5 winner, every pruning path included — while shard
payload bytes are never rewritten (the ``id_offset`` column is block
0's delta-chain base; metadata rebases as column arithmetic)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.query_exec import (
    _make_docs_narrower,
    topk_bm25_chunked,
)
from invertedindexbuilder_spark.operators.sharding import (
    load_shards,
    sharded_view,
    topk_bm25_sharded,
)

N = 6000
N_A = 2500  # deliberately uneven split; rareone straddles the boundary


def _rows():
    rows = []
    for d in range(N):
        if d % 2 == 0:  # df 3000 = N/2: NEGATIVE idf under heavy_df=64
            rows.append(("common", d, 1 + d % 3))
        if d % 3 == 0:  # df 2000 < N/2: positive-idf heavy
            rows.append(("mid", d, 1 + d % 5))
        if 2400 <= d < 2450:  # light, straddles the shard boundary
            rows.append(("rareone", d, 2))
        if 5100 <= d < 5150:  # light, shard B only
            rows.append(("raretwo", d, 1))
    return rows


def _mk_shard(spark, rows, lo, hi):
    post = spark.createDataFrame(
        [(t, d - lo, tf) for (t, d, tf) in rows if lo <= d < hi],
        "term string, doc_id long, tf long",
    )
    docs = spark.range(hi - lo).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + (F.col("id") + lo) % 40).cast("long").alias("doc_len"),
    ).cache()
    return {
        "chunks": encode_chunks(post, salt_threshold=64, chunk_blocks=1).cache(),
        "docs": docs,
        "stats": {
            "n_docs": hi - lo,
            "sum_doc_len": sum(100 + d % 40 for d in range(lo, hi)),
            "min_doc_len": 100,
        },
    }


@pytest.fixture(scope="module")
def env(spark):
    rows = _rows()
    post = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    chunks = encode_chunks(post, salt_threshold=64, chunk_blocks=1).cache()
    # the single-build reference in the merged layout: one unsalted
    # whole-list chunk per term
    unsalted = encode_chunks(post, heavy=[]).cache()
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 40).cast("long").alias("doc_len"),
    ).cache()
    stats = {
        "n_docs": N,
        "sum_doc_len": sum(100 + d % 40 for d in range(N)),
        "min_doc_len": 100,
    }
    shards = [_mk_shard(spark, rows, 0, N_A), _mk_shard(spark, rows, N_A, N)]
    return {
        "unsalted": unsalted,
        "chunks": chunks,
        "docs": docs,
        "stats": stats,
        "shards": shards,
    }


def _key(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


def _single(spark, env, query, mode, **kw):
    return _key(
        topk_bm25_chunked(
            spark, env["unsalted"], env["docs"], env["stats"], query,
            mode=mode, k=10, round_digits=6, **kw,
        ).collect()
    )


@pytest.mark.parametrize(
    "query,mode",
    [
        ("rareone raretwo mid", "or"),
        ("rareone common", "or"),
        ("rareone mid", "and"),
        ("common mid", "and"),
        ("rareone zzznope", "and"),  # unknown term -> empty
    ],
)
def test_sharded_equals_single_build(spark, env, query, mode):
    got = _key(
        topk_bm25_sharded(
            spark, env["shards"], query, mode=mode, k=10, round_digits=6
        ).collect()
    )
    assert got == _single(spark, env, query, mode)


def test_sharded_forced_bmw_or_prunes_and_matches(spark, env):
    """or_prune forced with a positive-idf heavy list: the candidate
    pass runs against cross-shard candidates and rebased chunk/block
    metadata; results identical, and heavy chunks are actually skipped.
    The skip shows up at the SCAN level (the chunk scan filter drops
    whole chunk rows before the decoder sees them — with chunk_blocks=1
    every surviving row is one kept block, so the decode-level counter
    alone reads kept==total)."""
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    got = _key(
        topk_bm25_sharded(
            spark, env["shards"], "rareone raretwo mid", mode="or", k=10,
            round_digits=6, or_prune=True, heavy_df=64, counters=counters,
        ).collect()
    )
    assert got == _single(spark, env, "rareone raretwo mid", "or")
    assert counters["total"].value > 0
    scan_skipped = counters.get("chunks_kept", 0) < counters.get(
        "chunks_total", 0
    )
    decode_skipped = counters["decoded"].value < counters["total"].value
    assert scan_skipped or decode_skipped, counters


def test_sharded_negative_idf_candidate_only_matches(spark, env):
    """df == N/2 heavy ('common', zero IDF) through the candidate pass
    and its driver bound check, cross-shard."""
    got = _key(
        topk_bm25_sharded(
            spark, env["shards"], "rareone common", mode="or", k=10,
            round_digits=6, or_prune=True, heavy_df=64,
        ).collect()
    )
    assert got == _single(spark, env, "rareone common", "or")


def test_sharded_forced_and_candidate_prune_matches(spark, env):
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    got = _key(
        topk_bm25_sharded(
            spark, env["shards"], "rareone mid", mode="and", k=10,
            round_digits=6, and_prune=True, heavy_df=64, counters=counters,
        ).collect()
    )
    assert got == _single(spark, env, "rareone mid", "and")
    # the candidate pass's chunk scan filter drops candidate-free chunks
    # before the decoder counts their blocks (chunk_blocks=1 here)
    scan_skipped = counters.get("chunks_kept", 0) < counters.get(
        "chunks_total", 0
    )
    decode_skipped = counters["decoded"].value < counters["total"].value
    assert scan_skipped or decode_skipped, counters


def test_sharded_three_way_split_matches(spark, env):
    rows = _rows()
    shards = [
        _mk_shard(spark, rows, 0, 1000),
        _mk_shard(spark, rows, 1000, 2600),
        _mk_shard(spark, rows, 2600, N),
    ]
    for query, mode in [("rareone raretwo mid", "or"), ("rareone mid", "and")]:
        got = _key(
            topk_bm25_sharded(
                spark, shards, query, mode=mode, k=10, round_digits=6
            ).collect()
        )
        assert got == _single(spark, env, query, mode)


def test_sharded_tombstones_rebase_and_union(spark, env):
    """Shard-local tombstones exclude under GLOBAL ids; an extra
    global exclude_doc_ids frame unions on top."""
    rows = _rows()
    shards = [_mk_shard(spark, rows, 0, N_A), _mk_shard(spark, rows, N_A, N)]
    # locally-expressed tombstones: global 2400..2409 (shard A local
    # ids) and 5100..5104 (shard B local ids)
    shards[0]["tombstones"] = spark.createDataFrame(
        [(d,) for d in range(2400, 2410)], "doc_id long"
    )
    shards[1]["tombstones"] = spark.createDataFrame(
        [(d - N_A,) for d in range(5100, 5105)], "doc_id long"
    )
    extra = spark.createDataFrame([(2410,), (5105,)], "doc_id long")
    got = _key(
        topk_bm25_sharded(
            spark, shards, "rareone raretwo mid", mode="or", k=10,
            round_digits=6, exclude_doc_ids=extra,
        ).collect()
    )
    tomb_all = list(range(2400, 2411)) + list(range(5100, 5106))
    want = _single(
        spark, env, "rareone raretwo mid", "or",
        exclude_doc_ids=spark.createDataFrame(
            [(d,) for d in tomb_all], "doc_id long"
        ),
    )
    assert got == want


def test_sharded_doc_filter_global_semantics(spark, env):
    got = _key(
        topk_bm25_sharded(
            spark, env["shards"], "rareone raretwo mid", mode="or", k=10,
            round_digits=6, doc_filter=F.col("doc_id") % 3 == 0,
        ).collect()
    )
    assert got == _single(
        spark, env, "rareone raretwo mid", "or",
        doc_filter=F.col("doc_id") % 3 == 0,
    )


def test_sharded_view_equals_chunked_over_view(spark, env):
    """The view is an ordinary INDEX_CHUNK frame: topk_bm25_chunked
    over it (without docs_shards) answers identically — docs_shards
    only changes WHERE the bounded In-list reads push."""
    view = sharded_view(env["shards"])
    got = _key(
        topk_bm25_chunked(
            spark, view["chunks"], view["docs"], view["stats"],
            "rareone raretwo mid", mode="or", k=10, round_digits=6,
        ).collect()
    )
    assert got == _single(spark, env, "rareone raretwo mid", "or")


def test_docs_narrower_pushes_local_ids_per_shard(spark, tmp_path):
    """The sharded In-list must reach parquet on the PHYSICAL doc_id:
    global ids rebase to shard-local values per branch (the virtual
    frame's computed doc_id cannot prune row groups)."""
    pa = str(tmp_path / "docs_a")
    pb = str(tmp_path / "docs_b")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(10).cast("long").alias("doc_len")
    ).write.parquet(pa)
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(10).cast("long").alias("doc_len")
    ).write.parquet(pb)
    da, db = spark.read.parquet(pa), spark.read.parquet(pb)
    narrow = _make_docs_narrower(None, [(da, 0, 100), (db, 100, 100)])
    frame = narrow([5, 7, 105, 142])
    plan = frame._jdf.queryExecution().executedPlan().toString()
    # shard A pushes global==local [5, 7]; shard B pushes local [5, 42]
    assert "PushedFilters" in plan
    assert plan.count("In(doc_id") == 2
    got = sorted(r["doc_id"] for r in frame.collect())
    assert got == [5, 7, 105, 142]


def test_sharded_roots_match_federated_merge(spark, tmp_path_factory):
    """End-to-end over build catalogs: serving shard roots scatter-
    gather == querying merge_builds' output — row for row, because the
    sharded view assigns exactly the ids the merge would."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import (
        build,
        load_stats,
        merge_builds,
    )
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    base = tmp_path_factory.mktemp("shardserve")
    ra, rb, out = (str(base / n) for n in ("a", "b", "m"))
    build(
        spark, synthetic_docs_src(spark, 200), ra,
        salt_threshold=70, chunk_blocks=1,
    )
    build(
        spark, synthetic_docs_src(spark, 150, start=200), rb,
        salt_threshold=70, chunk_blocks=1,
    )
    merge_builds(spark, ra, rb, out)
    cat = Catalog(spark, out)
    for query, mode in [("common alpha beta", "or"), ("common alpha", "and")]:
        want = _key(
            topk_bm25_chunked(
                spark,
                cat.read("index_chunks"),
                cat.read("docs").select("doc_id", "doc_len"),
                load_stats(spark, out),
                query, mode=mode, k=20, round_digits=6,
            ).collect()
        )
        got = _key(
            topk_bm25_sharded(
                spark, [ra, rb], query, mode=mode, k=20, round_digits=6
            ).collect()
        )
        assert got == want


def test_batch_over_sharded_view_matches_single_build(spark, env):
    """topk_bm25_batch serves the sharded view unchanged: the view is
    an ordinary INDEX_CHUNK frame (rebased metadata + id_offset decode
    base honored by decode_matched_rows), so every (query, doc, score)
    matches the batch over the single union build."""
    from invertedindexbuilder_spark.operators.query_batch import (
        topk_bm25_batch,
    )

    qdf = spark.createDataFrame(
        [(0, "rareone raretwo mid"), (1, "rareone common"), (2, "mid")],
        "query_id long, text string",
    )
    view = sharded_view(env["shards"])

    def rows(index, docs, stats):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in topk_bm25_batch(
                spark, index, docs, stats, qdf,
                mode="or", k=10, round_digits=6,
            ).collect()
        )

    got = rows(view["chunks"], view["docs"], view["stats"])
    want = rows(env["chunks"], env["docs"], env["stats"])
    assert got and got == want


def test_stream_delta_served_sharded_before_compaction(spark, tmp_path):
    """The freshness story SCALE.md claims: parquet drops land (the
    streaming ingest surface — the stream half itself is pinned by
    test_streaming_compact_e2e / test_streaming_curate), a small DELTA
    index builds over just the drops, and `--shards base,delta` serves
    the union IMMEDIATELY — no compaction, zero bytes of the base
    touched — with (url, score) results identical to a clean batch
    build over the union corpus (url-keyed: the delta assigns its own
    dense local ids, which is exactly what the sharded view is for)."""
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    n_base, n_delta = 300, 100
    root, delta_root, full = (
        str(tmp_path / n) for n in ("base", "delta", "full")
    )
    build(spark, synthetic_docs_src(spark, n_base), root)

    # two drops land in the ingest dir; the delta indexes ONLY them
    drops = str(tmp_path / "drops")
    synthetic_docs_src(spark, 50, start=n_base).write.mode("append").parquet(
        drops
    )
    synthetic_docs_src(
        spark, 50, start=n_base + 50
    ).write.mode("append").parquet(drops)
    delta_src = spark.read.parquet(drops)
    assert delta_src.count() == n_delta
    build(spark, delta_src, delta_root)

    build(spark, synthetic_docs_src(spark, n_base + n_delta), full)

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import load_stats

    def by_url(res, docs):
        return sorted(
            (r["url"], r["score"])
            for r in res.join(docs.select("doc_id", "url"), "doc_id").collect()
        )

    got_res = topk_bm25_sharded(
        spark, [root, delta_root], "alpha beta", mode="or", k=100_000,
        round_digits=6,
    )
    view = sharded_view(load_shards(spark, [root, delta_root]))
    cat_f = Catalog(spark, full)
    want_res = topk_bm25_chunked(
        spark,
        cat_f.read("index_chunks"),
        cat_f.read("docs").select("doc_id", "doc_len"),
        load_stats(spark, full),
        "alpha beta", mode="or", k=100_000, round_digits=6,
    )
    got = by_url(got_res, view["docs"])
    want = by_url(want_res, cat_f.read("docs"))
    assert got and got == want


def test_sharded_serves_default_builds(spark, tmp_path):
    """A default build() root (no flags) loads as a shard and serves
    exactly what its own chunk table serves."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import build, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    root = str(tmp_path / "default")
    build(spark, synthetic_docs_src(spark, 40), root)
    cat = Catalog(spark, root)
    want = _key(
        topk_bm25_chunked(
            spark, cat.read("index_chunks"),
            cat.read("docs").select("doc_id", "doc_len"),
            load_stats(spark, root), "alpha", mode="or", k=5,
        ).collect()
    )
    got = _key(topk_bm25_sharded(spark, [root], "alpha", mode="or", k=5).collect())
    assert got and got == want
