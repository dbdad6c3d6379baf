"""Distributed block-max OR pruning: results must be IDENTICAL to the
unpruned full decode (exactness), and on a selective query against a
planted stopword the decoded-block count must be a small fraction of
the total (the pruning actually prunes).  Mirrors the driver-local BMW
exactness proof in test_local_query.py, set-at-a-time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked

N = 20_000  # docs; 'common' df=10k (~157 blocks), rare df=100 each


@pytest.fixture(scope="module")
def env(spark):
    rows = []
    for d in range(N):
        if d % 2 == 0:
            rows.append(("common", d, 1 + d % 3))
        if d % 2 == 1:  # df 10k > HEAVY_QUERY_DF: a second heavy list
            rows.append(("mid", d, 1))
        if d % 4 == 0:  # df 5k < N/2: POSITIVE idf, heavy under a
            rows.append(("posheavy", d, 1 + d % 5))  # lowered heavy_df
        # rare terms clustered in two narrow doc ranges
        if 3000 <= d < 3100:
            rows.append(("rareone", d, 2))
        if 15000 <= d < 15100:
            rows.append(("raretwo", d, 1))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    chunks = encode_chunks(postings, salt_threshold=4096, chunk_blocks=8).cache()
    # the merged row layout: one unsalted whole-list chunk per term
    merged = encode_chunks(postings, heavy=[]).cache()
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 40).cast("long").alias("doc_len"),
    ).cache()
    stats = {
        "n_docs": N,
        "sum_doc_len": sum(100 + d % 40 for d in range(N)),
        "min_doc_len": 100,
    }
    return {"chunks": chunks, "merged": merged, "docs": docs, "stats": stats}


def _key(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("query", ["rareone raretwo common", "rareone common common"])
def test_or_pruned_equals_full_decode_merged(spark, env, query):
    """Block-level pruning inside whole-list rows (the merged layout, one
    unsalted chunk per term): too few chunks for the scan prune, so
    every skip happens in the decoder."""
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], query,
        mode="or", k=10, round_digits=6, counters=counters, or_prune=True,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], query,
        mode="or", k=10, round_digits=6, or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full)
    assert counters["total"].value > 0, "heavy list must hit the BMW path"
    # the stopword's candidate-free blocks must be skipped: candidates
    # live in ~2 narrow ranges of the ~157 'common' blocks
    assert counters["decoded"].value < counters["total"].value / 4


def test_or_pruned_equals_full_decode_chunked(spark, env):
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        counters=counters, or_prune=True,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full)
    assert counters["total"].value > 0
    # r7: pruning is now two-layer in the chunked path.  Layer 1 (the
    # scan-level chunk prune) must drop candidate-free low-ub chunks
    # BEFORE the payload read; the decoder's block counters then only
    # see surviving chunks, so the end-to-end skip fraction is decoded
    # blocks vs the ORIGINAL block count of the matched terms.
    assert counters["chunks_total"] > 0
    assert counters["chunks_kept"] < counters["chunks_total"] / 2
    orig_blocks = (
        env["chunks"]
        .filter(F.col("term").isin("common", "rareone", "raretwo"))
        .select(F.sum(F.size("block_counts")))
        .collect()[0][0]
    )
    assert counters["decoded"].value < orig_blocks / 4


def test_or_ioprune_positive_idf_ub_leg(spark, env):
    """Positive-IDF heavy list (df 5k < N/2 = posheavy) through the
    one-pass keep rule: the chunk-granule scan prune's ub leg must keep
    every chunk whose upper bound can reach theta (chunk-keep ⊇
    block-keep, so results are identical to full decode) while still
    skipping candidate-free low-ub chunks."""
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo posheavy", mode="or", k=10, round_digits=6,
        counters=counters, or_prune=True, heavy_df=1024,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo posheavy", mode="or", k=10, round_digits=6,
        or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full) and len(full) == 10
    assert counters["chunks_total"] > 0
    assert counters["chunks_kept"] < counters["chunks_total"]


def test_or_auto_engages_rare_candidate_regime(spark, env, monkeypatch):
    """r7 auto rule: below the decode-volume floor, or_prune="auto"
    still engages when candidates are rare relative to the heavy chunk
    count (scan-prune regime) — and stays off otherwise.  The chunk
    approximation constant is scaled down so the regime is reachable at
    test size."""
    import invertedindexbuilder_spark.operators.query_exec as qe

    # real constant (1M-posting chunks): est_chunks = 0 -> stays off
    counters = {}
    topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, counters=counters,
    ).collect()
    assert "chunks_total" not in counters
    # scaled constant: common (df 10k) ~ 1250 est chunks >= 2x the 200
    # light candidates -> engages without any forced flag
    monkeypatch.setattr(qe, "APPROX_CHUNK_POSTINGS", 8)
    counters = {}
    auto = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        counters=counters,
    ).collect()
    assert counters.get("chunks_total", 0) > 0
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        or_prune=False,
    ).collect()
    assert _key(auto) == _key(full)


def test_or_ioprune_fallback_matches(spark, env, monkeypatch):
    """With the metadata cap forced to 0 the scan prune must fall back
    to the unpruned heavy scan and still produce identical results."""
    import invertedindexbuilder_spark.operators.query_exec as qe

    monkeypatch.setattr(qe, "OR_IOPRUNE_META_CAP", 0)
    counters = {}
    pruned = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        counters=counters, or_prune=True,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "rareone raretwo common", mode="or", k=10, round_digits=6,
        or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full)
    assert "chunks_kept" not in counters  # cap tripped before the rule


def test_or_all_heavy_falls_back_and_matches(spark, env):
    # no light list -> no theta seed -> fallback full decode (correct)
    a = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "common mid",
        mode="or", k=10, round_digits=6, or_prune=True,
    ).collect()
    b = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "common mid",
        mode="or", k=10, round_digits=6, or_prune=False,
    ).collect()
    assert _key(a) == _key(b)


def test_or_pruned_with_duplicate_query_terms(spark, env):
    # duplicate light term: weight=2 flows through theta and candidates
    a = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "rareone rareone common", mode="or", k=10, round_digits=6,
        or_prune=True,
    ).collect()
    b = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"],
        "rareone rareone common", mode="or", k=10, round_digits=6,
        or_prune=False,
    ).collect()
    assert _key(a) == _key(b)


def test_and_candidate_prune_equals_full_merged(spark, env):
    """Candidate pruning inside whole-list rows (the merged layout)."""
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "rareone common",
        mode="and", k=10, round_digits=6, and_prune=True, counters=counters,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["merged"], env["docs"], env["stats"], "rareone common",
        mode="and", k=10, round_digits=6, and_prune=False,
    ).collect()
    assert _key(pruned) == _key(full) and pruned
    # candidates live in one narrow range: almost every stopword block skips
    assert counters["total"].value > 0
    assert counters["decoded"].value < counters["total"].value / 4


def test_and_candidate_prune_equals_full_chunked(spark, env):
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "raretwo common mid", mode="and", k=10, round_digits=6,
        and_prune=True, counters=counters,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "raretwo common mid", mode="and", k=10, round_digits=6,
        and_prune=False,
    ).collect()
    # raretwo (even+odd range) ∩ common (even) ∩ mid (odd) = empty —
    # the empty intersection must be empty in BOTH paths
    assert _key(pruned) == _key(full) == []


def test_and_candidate_prune_nonempty_chunked(spark, env):
    pruned = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "raretwo common", mode="and", k=10, round_digits=6, and_prune=True,
    ).collect()
    full = topk_bm25_chunked(
        spark, env["chunks"], env["docs"], env["stats"],
        "raretwo common", mode="and", k=10, round_digits=6, and_prune=False,
    ).collect()
    assert _key(pruned) == _key(full) and pruned


@pytest.fixture(scope="module")
def neg_env(spark):
    """Two OVERLAPPING stopword-scale lists with strictly negative IDF
    (df = 3N/4 > N/2) — the r4-discovered unsound case for the one-pass
    keep rule: a doc riding along in ONE list's candidate-bearing block
    used to get a partially-decoded score, and with negative
    contributions partial = OVERestimate, so ride-alongs displaced the
    true top-k (observed at 10M docs: ride-alongs at -2.8 vs the true
    -30.7 winners)."""
    rows = []
    for d in range(N):
        if d % 4 != 0:
            rows.append(("hone", d, 1 + d % 2))
        if d % 4 != 1:
            rows.append(("htwo", d, 1 + d % 3))
        if 3000 <= d < 3080:
            rows.append(("rareone", d, 2))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long")
    chunks = encode_chunks(postings, salt_threshold=4096, chunk_blocks=8).cache()
    docs = spark.range(N).select(
        F.col("id").alias("doc_id"),
        (F.lit(100) + F.col("id") % 40).cast("long").alias("doc_len"),
    ).cache()
    stats = {
        "n_docs": N,
        "sum_doc_len": sum(100 + d % 40 for d in range(N)),
        "min_doc_len": 100,
    }
    return {"chunks": chunks, "docs": docs, "stats": stats}


def test_or_pruned_exact_under_multiple_negative_idf_heavies(spark, neg_env):
    """Regression (r4): forced OR pruning with TWO negative-IDF heavy
    lists must equal full decode — the sound path either proves the
    candidate-only answer exact or falls back to full decode."""
    pruned = topk_bm25_chunked(
        spark, neg_env["chunks"], neg_env["docs"], neg_env["stats"],
        "rareone hone htwo", mode="or", k=10, round_digits=6, or_prune=True,
    ).collect()
    full = topk_bm25_chunked(
        spark, neg_env["chunks"], neg_env["docs"], neg_env["stats"],
        "rareone hone htwo", mode="or", k=10, round_digits=6, or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full) and len(full) == 10


def test_or_negative_idf_candidate_only_path_prunes_when_sound(spark, neg_env):
    """When the k-th best candidate FINAL beats the non-candidate
    bound, the candidate-only path must both engage (decoded << total)
    and stay exact.  doc_len is flat here, so candidate finals sit
    around light(+strong idf) + heavy(negative) — push k low enough
    that theta_c stays above 0 (the non-candidate bound for all-neg
    heavies) ... with these dfs the rare idf (~+7.9) dominates the two
    ~-0.5 heavy contributions, so finals are positive and the check
    passes."""
    counters = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    pruned = topk_bm25_chunked(
        spark, neg_env["chunks"], neg_env["docs"], neg_env["stats"],
        "rareone hone htwo", mode="or", k=5, round_digits=6,
        or_prune=True, counters=counters,
    ).collect()
    full = topk_bm25_chunked(
        spark, neg_env["chunks"], neg_env["docs"], neg_env["stats"],
        "rareone hone htwo", mode="or", k=5, round_digits=6, or_prune=False,
    ).collect()
    assert _key(pruned) == _key(full) and len(full) == 5
    assert counters["total"].value > 0
    assert counters["decoded"].value < counters["total"].value / 4


def test_or_auto_rule_keys_on_heavy_posting_volume(spark, env, monkeypatch):
    """r5 auto rule: or_prune="auto" engages iff the query's summed
    heavy-list dfs reach AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS — corpus
    size alone neither enables (big corpus, light query) nor blocks
    (small corpus never reaches the volume) it.  Pinned by flipping
    the threshold around this fixture's 'common' df (10k)."""
    from invertedindexbuilder_spark.operators import query_exec as qe

    def run(counters):
        return topk_bm25_chunked(
            spark, env["chunks"], env["docs"], env["stats"],
            "rareone common", mode="or", k=10, round_digits=6,
            or_prune="auto", counters=counters,
        ).collect()

    acc = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    monkeypatch.setattr(qe, "AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS", 5_000)
    engaged = run(acc)
    assert acc["total"].value > 0, "volume above threshold must engage BMW"

    acc2 = {
        "decoded": spark.sparkContext.accumulator(0),
        "total": spark.sparkContext.accumulator(0),
    }
    monkeypatch.setattr(qe, "AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS", 50_000)
    off = run(acc2)
    assert acc2["total"].value == 0, "volume below threshold must full-decode"
    assert _key(engaged) == _key(off)
