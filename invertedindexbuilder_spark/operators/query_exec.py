"""Top-k BM25 query execution over the chunked index (INDEX_CHUNK).

Set-oriented re-expression of the reference's DAAT cursors
(query.c:120-300): instead of a leapfrog nextGEQ loop, the matched
chunk rows are block-prune-decoded in parallel, scored vectorized, and
reduced with one small groupBy + TakeOrderedAndProject.

Replicated reference semantics (SURVEY §5.5):
- query tokenization: same alnum/lowercase rules, NO 15-char cap and
  NO trailing-drop (main.c:392-407);
- strict mode D5: lookup keys are the first 14 bytes of the term; all
  stored terms sharing the key collide and the LAST in term order wins
  (lexicon.c:56, query.c:248-259);
- unknown terms silently dropped (single-found-term AND == OR);
- duplicate query terms scored once per occurrence (weight = count);
- conjunctive = docs containing ALL FOUND terms; disjunctive = union;
- BM25 exactly as functions/bm25.py; ties broken toward the
  earlier-seen (smaller) doc_id, matching the strict-> heap test
  (query.c:92-108).

Scale notes: the per-term chunk rows stay distributed (a stopword's
chunks at 10^12 docs are GBs — never collected; driver metadata is
O(#query terms) scalars); the docs join for doc_len shuffles on doc_id and
benefits from bucketing the docs table by doc_id; stats is a broadcast
scalar pair.  Conjunctive queries prune with the rarest term's doc
range (the nextGEQ skip analog): whole chunks above the bound leave
the plan, boundary chunks truncate blocks in the decoder.  When the
rare list is small and the other lists are long (one rule,
and_candidates_engaged, for single-query, batch and facet AND), the
rare postings collect once and their doc_ids become an explicit
candidate set: every other list decodes candidate-bearing blocks ONLY
(and_candidate_pass + decode_candidate_blocks — the distributed form
of the local session's progressive intersection), and the query
finishes over local relations for the rare postings and doc_lens.
Disjunctive queries get set-at-a-time block-max pruning
(decode_matched_rows_bmw): light lists decode fully and seed theta (the
k-th best partial score) plus the candidate set; heavy-list blocks
decode only if they may hold a candidate or their stored-max_tf upper
bound (plus the other heavy lists' full-list bounds) can still reach
theta — the one-pass form of the driver-local session's adaptive BMW
loop (local_query.py), on the same Ding & Suel (SIGIR 2011) idea.
That rule is exact only while heavy contributions are non-negative;
negative-IDF heavy lists (df > N/2) route through the same
candidate-only decoder with a driver-side bound check and a full-decode
fallback (see _try_bmw_or_decode — the r4 soundness fix).
Queries with no light/heavy mix, or with candidate volume beyond the
driver bound, fall back to full decode — embarrassingly parallel over
chunks, and still reference-parity (the reference's OR has only docid
skips, query.c:122-151).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invertedindexbuilder_spark import BM25_B, BM25_K1, LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import d_avr
from invertedindexbuilder_spark.functions.bm25 import idf as _idf
from invertedindexbuilder_spark.functions.compress import (
    decode_blocks_pruned,
    decode_blocks_selected,
)

_QUERY_TOKEN_RE = re.compile(r"[A-Za-z0-9]+")

# disjunctive queries: lists above this df get block-max pruning; the
# light lists below it are decoded fully and seed the theta threshold
HEAVY_QUERY_DF = 8192
# upper bound on candidate docs (sum of light dfs) collected to the
# driver for the pruning pass; above it the OR falls back to full
# decode (which is correct, just does more IO)
BMW_CANDIDATE_LIMIT = 200_000
# or_prune="auto": engage BMW only where skipped decode pays for the
# pruning pass's fixed extra-job overhead.  MEASURED r4 (scripts/
# bench_bmw.py on the 1M-doc pinned corpus, local[32], k=10, 2 light +
# N heavy ~0.95-df lists): full decode+score of ONE extra ~950k-posting
# heavy list costs ~54 ms (slope of or_full over n_heavy: 1.98 s ->
# 2.36 s for 1 -> 8 heavies) while the pruning pass carries ~1.65 s of
# flat multi-job overhead (or_bmw ~3.6 s regardless of heavy count).
# Break-even = 1.65 / 0.054e-6 ~ 3e7 heavy postings per query, i.e. a
# ~3e7-doc corpus for a stopword-bearing query — hence 30M, NOT the r3
# guess of 1M (at 1M docs forced pruning measured 1.8-2.6 s SLOWER).
# The overhead term is driver/scheduler latency (cluster-size
# invariant); the slope shrinks with executor count and grows with
# storage latency when chunks come from remote object storage instead
# of the page cache, so a real 10^12-doc deployment crosses over far
# below its corpus size — recalibrate with bench_bmw.py on the target
# cluster.  Full numbers in BENCH/SCALE.md.
#
# The decision variable is the query's total heavy-list posting
# volume (r5) — the auto rule sums the matched heavy dfs, free because
# the single-scan lookup already collected them.  The
# floor is recalibrated per decode generation: r6's batched varbyte
# decode (compress.decode_block_run + the byte-position vb_decode)
# made FULL decode 2.5-6x faster in page cache, and the re-measured
# 30M ladder shows forced pruning now losing in-memory at every
# volume up to 1.2e8 (22.4 s vs 12.9 s full; the pruner's ~9 s
# overhead is driver-latency + fragmented candidate decode, roughly
# volume-invariant, while full decode costs ~0.1 s per 1e7 postings
# warm) — extrapolated in-memory parity ~1e9, halved for the
# cost asymmetry on REMOTE storage (skipped blocks are skipped reads;
# engaging early costs a bounded fraction of one query, failing to
# engage at stopword scale costs orders of magnitude).  Recalibrate
# with scripts/bench_bmw.py on the target cluster — full history in
# BENCH/SCALE.md.
AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS = 500_000_000

# Two-phase disjunctive I/O pruning (r7): the block-max keep rule is
# evaluated per CHUNK against a payload-free metadata scan, and only
# surviving chunks enter the payload scan's pushed (term, first_doc_id)
# predicate — so skipped chunks are skipped READS, not just skipped
# decode (the r7 cold campaign showed decode-level BMW reading
# byte-for-byte what full decode reads; BENCH/SCALE.md).  Driver
# metadata stays bounded: above META_CAP collected chunk-metadata rows
# (5 scalars each) or MAX_IDS surviving literals the path falls back to
# the unpruned scan (correct, reads more).  A keep fraction near 1
# also falls back — a predicate that keeps everything is pure planning
# overhead.
OR_IOPRUNE_META_CAP = 100_000
OR_IOPRUNE_MAX_IDS = 20_000
OR_IOPRUNE_KEEP_FRAC = 0.95
# Scan pruning operates at CHUNK granularity: with fewer heavy chunk
# rows than this, the payload-free metadata job costs more than the
# handful of reads it could skip (measured r8: the 1M-doc forced-BMW
# bench query spans ~13 heavy chunks, every one candidate-bearing, so
# the meta job always fell through to the unpruned scan) — skip the
# job outright.  Exact chunk counts ride the lookup's existing
# metadata aggregate, so this check is free.
OR_IOPRUNE_MIN_CHUNKS = 16
# Candidate sets at or below this size fetch doc_lens through a
# doc_id-PUSHED scan of the docs table (whose files are
# doc_id-contiguous by construction: ids come from the build's range
# shuffle) instead of a full corpus-scale doc_len pass — the r7 needle
# campaign measured the pruned OR path's three full doc_len passes as
# MOST of its cold bytes.  Above the cap the broadcast-hash join over
# the full docs scan remains.  MUST stay below session.py's
# inFilterThreshold (1024): parquet-mr evaluates a pushed In as a
# recursive Or chain, and a 8.8k-literal push stack-overflowed
# executor tasks at 30M docs (r7).
DOCLEN_PUSH_CAP = 1000
# Chunk-count approximation for the rare-candidate auto rule: the
# adaptive salter caps a chunk at ~1M postings, so a heavy term spans
# about df/1M chunk rows.  Deliberately the CAP, not the build's
# effective chunk size — underestimating chunk count only delays
# engagement (never engages a hopeless prune).
APPROX_CHUNK_POSTINGS = 1_000_000
# Conjunctive candidate pass (and_candidate_pass), one rule for the
# single-query, batch and facet AND surfaces: engage when the rare
# lists' postings fit the doc_len push cap AND the other keys' summed
# df — the decode volume the pass can skip — reaches this floor.
# Below it the pass's two extra driver jobs (rare-list collect,
# candidate doc_len collect) cost more than the decode it skips.
# Measured with scripts/bench_bmw.py (a ~300-df rare list + the
# ~0.93-df stopword, and_prune forced vs and_full, warm, 4 cores):
# forced loses by 0.3-0.5 s at 93k skippable postings, ties at 279k
# (+0.05 / -0.04 s in two runs), and wins from 558k (-0.57 s) and 930k
# (-0.08 / -0.30 s); the floor sits just above the last losing point.
# Full table in BENCH/SCALE.md.
AND_PRUNE_MIN_SKIPPABLE = 300_000


def tokenize_query(query: str) -> list[str]:
    """Query tokenization: alnum runs, lowercased, NO length cap / D0."""
    return [t.lower() for t in _QUERY_TOKEN_RE.findall(query or "")]


def _key_weights(terms: list[str], strict: bool) -> dict[str, int]:
    """lookup-key -> number of query-term instances mapping to it."""
    keys: dict[str, int] = {}
    for t in terms:
        k = t[:LEXICON_KEY_LEN] if strict else t
        keys[k] = keys.get(k, 0) + 1
    return keys


def _match_keys(
    df: DataFrame, weights: dict[str, int], strict: bool
) -> DataFrame:
    """Shared Q2/D5 key matching over the term-keyed chunk table: adds
    (key, weight) columns to the rows whose term matches a key; in
    strict mode pushes term-range predicates (key..key+0x7f) into the
    scan and matches on the 14-byte prefix.  The keys ride in the plan
    as literals (an In-list and a key -> weight map), not as a joined
    driver-built frame, whose every execution is a Spark job of its own.
    Encoded ONCE so the single-query, batch and facet lookups cannot
    diverge on lexicon semantics."""
    if strict:
        prune = None
        for k in weights:
            cond = F.col("term").between(F.lit(k), F.lit(k + "\x7f"))
            prune = cond if prune is None else (prune | cond)
        if prune is not None:
            df = df.filter(prune)
        key = F.substring(F.col("term"), 1, LEXICON_KEY_LEN)
    else:
        key = F.col("term")
    weight_of = F.create_map(
        *[F.lit(x) for kw in weights.items() for x in kw]
    )
    return (
        df.withColumn("key", key)
        .filter(F.col("key").isin(list(weights)))
        .withColumn("weight", weight_of[F.col("key")].cast("int"))
    )


def _winner_match(
    df: DataFrame, winners: dict, keys: list[str], strict: bool
) -> DataFrame:
    """:func:`_match_keys` restricted to the collision-winning terms of
    ``keys`` (``winners`` from :func:`_lookup_chunk_meta`)."""
    weights = {k: winners[k]["weight"] for k in keys}
    return _match_keys(df, weights, strict).filter(
        F.col("term").isin([winners[k]["term"] for k in keys])
    )


_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("weight", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
)


def decode_matched_rows(
    matched: DataFrame,
    min_doc_id: int = 0,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Matched chunk rows -> exploded (key, df, weight, doc_id, tf)
    postings.

    ``min_doc_id``/``max_doc_id`` bound the candidate doc range (from
    the rarest conjunctive term): blocks wholly outside are never
    decoded — the reference's nextGEQ skip, set-at-a-time.

    A chunk's first gap is absolute, so each row decodes independently.
    The lookup's full-term ``term_df`` column is emitted as the scoring
    ``df``, while the row's own ``df`` stays its decode count.

    When an ``id_offset`` column is present (sharded serving,
    operators/sharding.py), it becomes block 0's delta-chain base, so
    the shard-local payload decodes directly to GLOBAL doc ids — the
    metadata columns (first_doc_id, last_doc_ids) arrive already
    rebased by the sharded view, so the block-skip searchsorted math
    and the decoded ids stay consistent without touching a payload
    byte.  Absent (every single-index path), the base is 0: a no-op.
    """

    def explode(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                docs, tfs = decode_blocks_pruned(
                    bytes(r.payload),
                    int(r.df),
                    np.asarray(r.last_doc_ids, dtype=np.int64),
                    np.asarray(r.block_bytes, dtype=np.int64),
                    min_doc_id=min_doc_id,
                    prev_doc_id=int(getattr(r, "id_offset", 0)),
                    block_counts=np.asarray(r.block_counts, dtype=np.int64),
                    max_doc_id=max_doc_id,
                )
                df_out = int(r.term_df)
                if max_doc_id is not None and docs.size:
                    keep = docs <= max_doc_id
                    docs, tfs = docs[keep], tfs[keep]
                if min_doc_id and docs.size:
                    keep = docs >= min_doc_id
                    docs, tfs = docs[keep], tfs[keep]
                if not docs.size:
                    continue
                yield pd.DataFrame(
                    {
                        "key": np.repeat(r.key, docs.size),
                        "df": np.full(docs.size, df_out, dtype=np.int64),
                        "weight": np.full(docs.size, int(r.weight), dtype=np.int32),
                        "doc_id": docs,
                        "tf": tfs,
                    }
                )

    return matched.mapInPandas(explode, schema=_DECODED_SCHEMA)


def _full_list_ub(mt: float, df: int, weight: int, n_docs: int,
                  min_doc_len: float, davr: float) -> float:
    """Scalar upper bound of one term's per-doc contribution from its
    list-wide max tf.  Sound for negative IDF (df > N/2): every
    contribution is then negative, so 0 bounds it."""
    t_idf = float(_idf(df, n_docs))
    if t_idf <= 0 or mt <= 0:
        return 0.0
    denom = BM25_K1 * ((1.0 - BM25_B) + BM25_B * min_doc_len / davr) + mt
    return weight * t_idf * (BM25_K1 + 1.0) * mt / denom


def _make_docs_narrower(docs: DataFrame, docs_shards=None, doc_filter=None):
    """Factory for the doc_id∈ids narrowing used by the scoring join
    and :func:`_doc_lens_for`'s pushed path.

    Unsharded (``docs_shards is None``): one In-list filter over the
    docs frame (the caller already applied ``doc_filter``) — pushes to
    parquet as-is.  Sharded: the virtual docs frame's doc_id is a
    COMPUTED column (local + shard offset), which parquet stats cannot
    prune — so the global ids rebase to each shard's LOCAL id space,
    the In-list pushes into that shard's scan on the physical doc_id
    column, and the global id + ``doc_filter`` (global semantics)
    apply to the handful of surviving rows.  This keeps the r7
    O(candidates) doc_len read on every shard instead of degrading to
    a narrow-column corpus scan on the offset ones."""

    def narrow(ids) -> DataFrame:
        idl = [int(x) for x in ids]
        if docs_shards is None:
            return docs.filter(F.col("doc_id").isin(idl))
        parts = []
        for d, off, n in docs_shards:
            loc = [x - off for x in idl if off <= x < off + n]
            if not loc:
                continue
            p = d.filter(F.col("doc_id").isin(loc))
            if off:
                p = p.withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
                )
            if doc_filter is not None:
                p = p.filter(doc_filter)
            parts.append(p)
        if not parts:
            return docs.filter(F.lit(False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return narrow


def _doc_lens_for(
    docs: DataFrame, ids: np.ndarray, narrow=None
) -> dict[int, float]:
    """doc_len lookup for a BOUNDED doc_id set.  Small sets push an
    In-list into the docs scan (row-group pruning via the table's
    naturally tight per-file doc_id stats); large sets keep the
    broadcast-hash join over the full docs scan.  Inner-join parity:
    ids missing from ``docs`` (dropped by a doc_filter) are absent from
    the result and must not score.  ``narrow``: optional
    :func:`_make_docs_narrower` closure — sharded serving passes it so
    the In-list pushes per shard on the physical doc_id column."""
    base = docs.select("doc_id", "doc_len")
    if ids.size <= DOCLEN_PUSH_CAP:
        src = (
            narrow(ids).select("doc_id", "doc_len")
            if narrow is not None
            else base.filter(F.col("doc_id").isin([int(x) for x in ids]))
        )
        rows = src.collect()
    else:
        ids_df = docs.sparkSession.createDataFrame(
            [(int(x),) for x in ids], "doc_id long"
        )
        rows = base.join(F.broadcast(ids_df), "doc_id").collect()
    return {r["doc_id"]: float(r["doc_len"]) for r in rows}


def _driver_contribs(
    rows, dl_map: dict[int, float], n_docs: int, davr: float
) -> dict[int, float]:
    """Per-doc summed BM25 contributions for COLLECTED posting rows
    (doc_id, df, weight, tf) — float64 in :func:`bm25_expr`'s exact op
    order, so driver-computed theta/bound decisions see the same values
    the distributed scorer would.  Docs absent from ``dl_map`` are
    skipped (inner-join parity with the old docs-join pass)."""
    p: dict[int, float] = {}
    idf_cache: dict[int, float] = {}
    for r in rows:
        dl = dl_map.get(r["doc_id"])
        if dl is None:
            continue
        df = int(r["df"])
        t_idf = idf_cache.get(df)
        if t_idf is None:
            t_idf = idf_cache[df] = float(_idf(df, n_docs))
        tf = float(r["tf"])
        denom = BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / davr) + tf
        p[r["doc_id"]] = p.get(r["doc_id"], 0.0) + int(r["weight"]) * (
            t_idf * (BM25_K1 + 1.0) * tf / denom
        )
    return p


def _chunk_ioprune_filter(
    chunks: DataFrame,
    winners: dict,
    strict: bool,
    heavy_keys: list[str],
    theta: float,
    cand_sorted: np.ndarray,
    others_ub: dict[str, float],
    n_docs: int,
    min_doc_len: float,
    davr: float,
    counters: dict | None = None,
    cand_only: bool = False,
):
    """Chunk-granule form of the BMW keep rule, evaluated BEFORE the
    payload read (r7) — returns a pushable Column over (term,
    first_doc_id) selecting only the heavy chunks that can matter, or
    None when pruning cannot help / cannot stay bounded (caller uses
    the unpruned scan — correct, reads more).

    One payload-free metadata job (parquet column pruning keeps the
    scan to five scalar columns; the clustered layout prunes its files
    by term) collects per-chunk (first_doc_id, last_doc, chunk max_tf)
    for the heavy keys.  A chunk survives iff it may hold a CANDIDATE
    doc or its chunk-level score upper bound plus the other heavy
    lists' full-list bounds reaches theta.  The chunk upper bound is
    the max of its blocks' bounds (the ub formula is monotonic in
    max_tf), and chunk candidate-overlap contains block overlap, so
    chunk-keep ⊇ block-keep: `decode_matched_rows_bmw` downstream sees
    every block it would have kept — results are bit-identical, only
    the bytes read change.  With ``cand_only`` (the negative-IDF
    branch) the ub leg is dropped: that branch emits candidate
    postings only, so candidate-free chunks contribute nothing.

    Reference anchor: the per-block skip metadata
    (inverted_list.c:36-77) exists for read-skipping; this is the form
    of it that a columnar scan engine can actually convert to skipped
    bytes (pushed predicate + row-group/page stats), where the
    decode-level rule cannot (payload and metadata share rows).
    """
    meta_scan = _winner_match(
        chunks.select(
            "term",
            "first_doc_id",
            F.element_at("last_doc_ids", -1).alias("last_doc"),
            F.array_max("max_tf").alias("cmt"),
        ),
        winners,
        heavy_keys,
        strict,
    )
    rows = (
        meta_scan.select("key", "first_doc_id", "last_doc", "cmt")
        .limit(OR_IOPRUNE_META_CAP + 1)
        .collect()
    )
    if len(rows) > OR_IOPRUNE_META_CAP:
        return None
    cand = np.asarray(cand_sorted, dtype=np.int64)
    keys = np.array([r["key"] for r in rows])
    first = np.array([r["first_doc_id"] for r in rows], dtype=np.int64)
    last = np.array([r["last_doc"] for r in rows], dtype=np.int64)
    cmt = np.array([r["cmt"] for r in rows], dtype=np.float64)

    # candidate overlap: any cand in [first, last]
    has_cand = np.searchsorted(cand, last, side="right") > np.searchsorted(
        cand, first, side="left"
    )
    keep = has_cand
    if not cand_only:
        keep = keep.copy()
        for k in heavy_keys:
            m = keys == k
            if not m.any():
                continue
            w = winners[k]
            t_idf = float(_idf(int(w["term_df"]), n_docs))
            if t_idf <= 0:
                ub = np.zeros(int(m.sum()))
            else:
                denom = (
                    BM25_K1 * ((1.0 - BM25_B) + BM25_B * min_doc_len / davr)
                    + cmt[m]
                )
                ub = w["weight"] * t_idf * (BM25_K1 + 1.0) * cmt[m] / denom
            keep[m] |= ub >= (theta - others_ub.get(k, 0.0))

    total, kept = int(keep.size), int(keep.sum())
    if counters is not None:
        counters["chunks_total"] = counters.get("chunks_total", 0) + total
        counters["chunks_kept"] = counters.get("chunks_kept", 0) + kept
    if kept > OR_IOPRUNE_MAX_IDS or kept >= OR_IOPRUNE_KEEP_FRAC * total:
        return None
    cond = F.lit(False)
    for k in heavy_keys:
        ids = first[(keys == k) & keep]
        if ids.size == 0:
            continue  # every chunk of this term skipped
        if ids.size <= DOCLEN_PUSH_CAP:
            id_pred = F.col("first_doc_id").isin([int(x) for x in ids])
        else:
            # parquet-mr evaluates a pushed In as a recursive Or chain
            # — beyond ~1k literals it stack-overflows executor tasks
            # (r7) — so a big survivor set degrades to its doc range
            # (sound superset; still prunes the tails)
            id_pred = F.col("first_doc_id").between(
                int(ids.min()), int(ids.max())
            )
        cond = cond | (
            (F.col("term") == F.lit(winners[k]["term"])) & id_pred
        )
    return cond


def _decode_kept_blocks(
    matched: DataFrame,
    cand_sorted: np.ndarray,
    counters: dict | None,
    ub_keep=None,
) -> DataFrame:
    """Shared block-selecting decoder: a block of a matched chunk row
    decodes iff its doc range holds a candidate doc (``cand_sorted``)
    or ``ub_keep(row, max_tf)`` marks it.  Without ``ub_keep`` only
    candidate postings are emitted: a ride-along doc in a
    candidate-bearing block would carry a partial score.

    ``counters``: optional {"decoded": acc, "total": acc} Spark
    accumulators for pruning instrumentation (tests assert decoded <<
    total on a selective query against a planted stopword).
    """
    spark = matched.sparkSession
    cand_bc = spark.sparkContext.broadcast(np.asarray(cand_sorted, np.int64))
    acc_dec = counters.get("decoded") if counters else None
    acc_tot = counters.get("total") if counters else None

    def explode(batches):
        cand = cand_bc.value
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                last = np.asarray(r.last_doc_ids, dtype=np.int64)
                # block b covers (lo[b], last[b]]; block 0's exclusive
                # lower bound is the chunk's first doc - 1
                first_lo = int(r.first_doc_id) - 1
                lo = np.concatenate(([first_lo], last[:-1]))
                left = np.searchsorted(cand, lo + 1, side="left")
                right = np.searchsorted(cand, last, side="right")
                mask = right > left
                if ub_keep is not None:
                    mask |= ub_keep(r, np.asarray(r.max_tf, dtype=np.float64))
                keep = np.flatnonzero(mask)
                if acc_tot is not None:
                    acc_tot.add(int(last.size))
                if acc_dec is not None:
                    acc_dec.add(int(keep.size))
                if keep.size == 0:
                    continue
                docs, tfs = decode_blocks_selected(
                    bytes(r.payload),
                    last,
                    np.asarray(r.block_bytes, dtype=np.int64),
                    np.asarray(r.block_counts, dtype=np.int64),
                    keep,
                    # sharded serving: block 0's chain base is the
                    # shard's id offset (see decode_matched_rows);
                    # blocks >0 re-base from the REBASED last_doc_ids
                    prev_doc_id=int(getattr(r, "id_offset", 0)),
                )
                if ub_keep is None and docs.size:
                    # sorted-membership filter: candidate docs only
                    pos = np.searchsorted(cand, docs)
                    pos[pos == cand.size] = 0
                    sel = cand[pos] == docs
                    docs, tfs = docs[sel], tfs[sel]
                if not docs.size:
                    continue
                yield pd.DataFrame(
                    {
                        "key": np.repeat(r.key, docs.size),
                        "df": np.full(docs.size, int(r.term_df), dtype=np.int64),
                        "weight": np.full(docs.size, int(r.weight), dtype=np.int32),
                        "doc_id": docs,
                        "tf": tfs,
                    }
                )

    return matched.mapInPandas(explode, schema=_DECODED_SCHEMA)


def decode_candidate_blocks(
    matched: DataFrame, cand_sorted: np.ndarray, counters: dict | None = None
) -> DataFrame:
    """Candidate-only decode — the set-at-a-time form of the
    reference's nextGEQ skip (query.c:120-300): only blocks whose doc
    range holds a candidate doc decode, and only candidate postings are
    emitted.  Every block that holds a candidate decodes, so each
    candidate's postings are complete and its score exact."""
    return _decode_kept_blocks(matched, cand_sorted, counters)


def decode_matched_rows_bmw(
    matched: DataFrame,
    cand_sorted: np.ndarray,
    theta: float,
    others_ub: dict[str, float],
    n_docs: int,
    min_doc_len: float,
    davr: float,
    counters: dict | None = None,
) -> DataFrame:
    """Heavy-list decode with distributed block-max (BMW-style) pruning
    — the set-at-a-time analog of local_query._disjunctive, using the
    stored per-block ``max_tf`` the chunk table already carries.

    A block of heavy term t decodes iff it may contain a CANDIDATE doc
    (one seen in a fully-decoded light list — candidates must be scored
    exactly) or its score upper bound plus the other heavy terms'
    full-list upper bounds could still reach ``theta``.  Exactness
    REQUIRES every heavy contribution to be non-negative (positive
    IDF); the caller enforces that.  The argument (one-pass form of
    local_query's): for any doc d in the true top-k, every block
    containing d satisfies ub_t(block) + sum(other full ubs) >=
    score(d) >= theta_final >= theta, so d decodes fully; a doc with a
    partially-decoded (under non-negative contributions,
    UNDERestimated) score cannot displace a true top-k member, because
    beating one would imply its true score is top-k — in which case it
    decoded fully.  theta comes from the k-th best LIGHT-PARTIAL score
    — a lower bound of the k-th best final score, again because heavy
    contributions cannot subtract.  For NEGATIVE-IDF heavy lists both
    halves of that argument invert (partial scores OVERestimate); the
    caller decodes them with :func:`decode_candidate_blocks` plus a
    driver-side bound check (see _try_bmw_or_decode).
    """
    k1_lenorm = BM25_K1 * ((1.0 - BM25_B) + BM25_B * min_doc_len / davr)

    def ub_keep(r, mt):
        t_idf = float(_idf(int(r.term_df), n_docs))
        if t_idf <= 0:
            ub = np.zeros(mt.size)
        else:
            ub = int(r.weight) * t_idf * (BM25_K1 + 1.0) * mt / (k1_lenorm + mt)
        return ub >= (theta - others_ub[r.key])

    return _decode_kept_blocks(matched, cand_sorted, counters, ub_keep)


def _local_postings(spark: SparkSession, rows: list) -> DataFrame:
    """Collected decoded-posting rows (key, df, weight, doc_id, tf) as a
    local relation, so a plan that finishes over them re-reads no
    chunk."""
    n = len(rows)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "key": [r["key"] for r in rows],
                "df": np.fromiter((r["df"] for r in rows), np.int64, count=n),
                "weight": np.fromiter(
                    (r["weight"] for r in rows), np.int32, count=n
                ),
                "doc_id": np.fromiter(
                    (r["doc_id"] for r in rows), np.int64, count=n
                ),
                "tf": np.fromiter((r["tf"] for r in rows), np.int64, count=n),
            }
        ),
        schema=_DECODED_SCHEMA,
    )


def _local_doc_lens(spark: SparkSession, dl_map: dict[int, float]) -> DataFrame:
    """A :func:`_doc_lens_for` map as a (doc_id, doc_len) local relation.
    doc_len is a double holding exactly the source values: the scorer
    casts a long doc_len to double anyway, so scores are bit-identical."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.fromiter(dl_map.keys(), np.int64, count=len(dl_map)),
                "doc_len": np.fromiter(
                    dl_map.values(), np.float64, count=len(dl_map)
                ),
            }
        ),
        schema="doc_id long, doc_len double",
    )


def and_candidates_engaged(
    winners: dict, rare_keys: list[str], force: bool = False
) -> bool:
    """The one engagement rule of :func:`and_candidate_pass`, for every
    AND surface: the rare lists' postings (the candidate bound) fit
    DOCLEN_PUSH_CAP, and the other keys' summed df reaches
    AND_PRUNE_MIN_SKIPPABLE.  ``force`` skips the floor, never the
    cap: the pass collects the rare postings to the driver."""
    cand_total = sum(winners[k]["term_df"] for k in rare_keys)
    skippable = sum(
        w["term_df"] for k, w in winners.items() if k not in rare_keys
    )
    return cand_total <= DOCLEN_PUSH_CAP and (
        force or skippable >= AND_PRUNE_MIN_SKIPPABLE
    )


def and_candidate_pass(
    chunks: DataFrame,
    winners: dict,
    rare_keys: list[str],
    strict: bool,
    counters: dict | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Conjunctive candidate pass — the distributed form of
    local_query._conjunctive's progressive intersection, for a batch of
    queries (``rare_keys``: each query's rarest key; a single query or
    a facet count is a batch of one).

    The rare lists decode fully, once, and their postings (at most
    DOCLEN_PUSH_CAP rows, see :func:`and_candidates_engaged`) collect
    to the driver; their doc_ids are the candidates.  Every other key
    of ``winners`` decodes only candidate-bearing blocks
    (:func:`decode_candidate_blocks`), and chunks past the last
    candidate leave its scan.  Exact: every AND result doc of a query
    is in that query's rare list, and all its postings in other lists
    live in candidate-bearing blocks.

    Returns ``(decoded, cand)``: decoded postings — the rare ones as a
    local relation, so the caller's final plan scans only the other
    keys' chunks — and the sorted candidate doc_ids, a bound on every
    result doc (callers read doc_lens or facets for those ids only).
    """
    rows = decode_matched_rows(
        _winner_rows(chunks, winners, rare_keys, strict)
    ).collect()
    cand = np.unique(
        np.fromiter((r["doc_id"] for r in rows), np.int64, count=len(rows))
    )
    decoded = _local_postings(chunks.sparkSession, rows)
    others = [k for k in winners if k not in rare_keys]
    if others and cand.size:
        other_rows = _winner_rows(chunks, winners, others, strict).filter(
            F.col("first_doc_id") <= F.lit(int(cand[-1]))
        )
        decoded = decoded.unionByName(
            decode_candidate_blocks(other_rows, cand, counters)
        )
    return decoded, cand


def _try_bmw_or_decode(
    spark: SparkSession,
    rows_for,
    ioprune,
    meta: list,
    docs: DataFrame,
    stats: dict,
    n_docs: int,
    davr: float,
    k: int,
    heavy_df: int,
    cand_limit: int,
    counters: dict | None,
    round_digits: int | None = None,
    narrow=None,
) -> DataFrame | None:
    """Disjunctive pruning orchestration.  ``meta`` = one dict per key
    with (key, df, weight, mt = list-wide max tf).  Returns
    ``(decoded, docs_narrow)`` — the pruned decoded-postings frame plus
    an optional candidate-restricted docs frame for the scoring join
    (non-None only on the candidate-only branch, whose bound check
    PROVES every result doc is a candidate) — or None when pruning
    cannot help / cannot stay bounded (caller falls back to full decode
    — always correct):

    - no heavy list (nothing to prune) or no light list (no theta seed);
    - light candidate volume above ``cand_limit`` (driver stays O(k +
      candidates) by contract — the r1 verdict's unbounded-collect
      lesson);
    - fewer than k light candidates (theta would be -inf).

    ``rows_for(keys)``: scan-pushed row factory (see :func:`_winner_rows`)
    — so the light pass never reads the heavy terms' payload bytes just
    to discard them.

    ``ioprune(heavy_keys, theta, cand_sorted, others_ub, cand_only)``:
    chunk-granule scan-prune factory; returns a pushable Column over
    the heavy scan or None.  Applied AFTER theta is known and BEFORE
    the heavy payload read, so skipped chunks are skipped bytes (r7;
    see _chunk_ioprune_filter).
    """
    heavy = [m for m in meta if m["df"] > heavy_df]
    light = [m for m in meta if m["df"] <= heavy_df]
    if not heavy or not light:
        return None
    if sum(m["df"] for m in light) > cand_limit:
        return None

    light_keys = [m["key"] for m in light]
    heavy_keys = [m["key"] for m in heavy]
    light_rows = rows_for(light_keys)
    heavy_rows = rows_for(heavy_keys)

    # pass 1: exact partial scores from the light lists -> theta + the
    # candidate doc set.  The light postings are cand_limit-bounded
    # (checked above), so they collect to the driver and the partial
    # sums compute there (_driver_contribs, bm25_expr's float64 op
    # order); doc_lens come from a doc_id-PUSHED scan of the docs table
    # (_doc_lens_for) instead of a full corpus-scale doc_len join — the
    # r7 needle campaign measured the old path's three full doc_len
    # passes (theta, bound check, scoring) as MOST of the pruned
    # query's cold bytes at 30M docs (BENCH/SCALE.md).
    light_dec = decode_matched_rows(light_rows)
    lrows = light_dec.select("key", "doc_id", "df", "weight", "tf").collect()
    if not lrows:
        return None
    cand_ids = np.unique(np.array([r["doc_id"] for r in lrows], np.int64))
    dl_map = _doc_lens_for(docs, cand_ids, narrow=narrow)
    partials = _driver_contribs(lrows, dl_map, n_docs, davr)
    if len(partials) < k:
        return None
    theta = sorted(partials.values(), reverse=True)[k - 1]
    cand_sorted = np.sort(
        np.fromiter(partials.keys(), dtype=np.int64, count=len(partials))
    )

    min_doc_len = float(stats.get("min_doc_len", 1.0))
    full_ubs = {
        m["key"]: _full_list_ub(
            float(m["mt"]), int(m["df"]), int(m["weight"]),
            n_docs, min_doc_len, davr,
        )
        for m in heavy
    }

    if any(float(_idf(int(m["df"]), n_docs)) <= 0 for m in heavy):
        # NEGATIVE-IDF heavy list(s) (df > N/2): the one-pass keep rule
        # below is UNSOUND here — heavy contributions are negative, so
        # a non-candidate doc riding along in ONE list's candidate
        # block gets a partially-decoded (OVERestimated) score and can
        # displace the true top-k (observed at 10M docs with 5
        # stopword-scale lists: ride-alongs at -2.8 displaced the true
        # -30.7 top-k; regression-pinned in test_bmw_or.py).  Sound
        # variant: decode candidate-bearing heavy blocks ONLY, keep
        # candidate postings only (ride-alongs dropped — candidates'
        # scores are then EXACT since every block holding a candidate
        # decodes), and verify driver-side that no heavy-only doc can
        # reach the top-k: score(non-candidate) <= sum of the heavy
        # lists' full ubs (0 for negative idf), so if the k-th best
        # candidate FINAL exceeds that bound the candidate-only answer
        # is exact; otherwise fall back to full decode (correct, and
        # genuinely required — the top-k then hinges on tiny
        # differences among near-identical negative sums).
        # candidate-only decode ⇒ candidate-free chunks contribute
        # nothing; skip their payload at the scan (r7)
        pred = ioprune(heavy_keys, float("inf"), cand_sorted,
                       {m["key"]: 0.0 for m in heavy}, True)
        if pred is not None:
            heavy_rows = heavy_rows.filter(pred)
        heavy_cand = decode_candidate_blocks(heavy_rows, cand_sorted, counters)
        # bound check driver-side: heavy_cand is candidate-only, so its
        # docs all sit in dl_map already — no docs pass at all (r7)
        hrows = heavy_cand.select(
            "key", "doc_id", "df", "weight", "tf"
        ).collect()
        hmap = _driver_contribs(hrows, dl_map, n_docs, davr)
        finals = sorted(
            (v + hmap.get(d, 0.0) for d, v in partials.items()),
            reverse=True,
        )
        theta_c = finals[k - 1]
        ub_noncand = sum(full_ubs.values())
        # rounding-aware margin (ADVICE r4): the final ranking rounds
        # scores to round_digits, so a non-candidate doc whose RAW
        # score sits within half a rounding quantum of theta_c could
        # ROUND into a tie with the k-th candidate and win the
        # smaller-doc_id tiebreak; require strict clearance beyond the
        # quantum before accepting the candidate-only answer
        margin = 0.0 if round_digits is None else 0.5 * 10.0 ** (-round_digits)
        if theta_c <= ub_noncand + margin:
            return None
        # driver-local finish (r8): every posting row that can reach
        # the result is ALREADY on the driver (lrows from the theta
        # pass, hrows from the bound check — both cand_limit-bounded by
        # contract), and the bound check just PROVED every result doc
        # is a candidate whose doc_len sits in dl_map.  So the scoring
        # tail's inputs become LOCAL relations: no localCheckpoint of
        # the heavy decode, no second decode execution, and no second
        # pushed docs scan (the r7 path re-read candidate doc_lens it
        # had already fetched).  Scores are unchanged — _score_topk
        # still computes them in bm25_expr over the same values; docs
        # absent from dl_map (doc_filter) stay absent, preserving
        # inner-join parity.  Saves 2 jobs + one candidate-scan read
        # per pruned query; at 1M docs the forced-BMW entry's fixed
        # overhead is mostly these jobs.
        decoded = F.broadcast(_local_postings(spark, lrows + hrows))
        return decoded, _local_doc_lens(spark, dl_map)

    total_ub = sum(full_ubs.values())
    others_ub = {key: total_ub - ub for key, ub in full_ubs.items()}

    # chunk-granule keep rule pushed into the heavy scan — the
    # block-level rule below sees every block it would have kept
    # (chunk-keep ⊇ block-keep), only the bytes read change (r7)
    pred = ioprune(heavy_keys, float(theta), cand_sorted, others_ub, False)
    if pred is not None:
        heavy_rows = heavy_rows.filter(pred)
    heavy_dec = decode_matched_rows_bmw(
        heavy_rows, cand_sorted, float(theta), others_ub,
        n_docs, min_doc_len, davr, counters=counters,
    )
    # no docs narrowing here: a heavy-only doc (in no light list) can
    # legitimately reach the top-k through the ub-kept blocks, and it
    # is not in the candidate set
    return decode_matched_rows(light_rows).unionByName(heavy_dec), None


def bm25_expr(n_docs: int, davr: float):
    """JVM-side (whole-stage-codegen) BM25 column over (tf, df, doc_len)."""
    idf = F.log2((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = (
        F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("doc_len") / F.lit(davr))
        + F.col("tf")
    )
    return idf * F.lit(BM25_K1 + 1.0) * F.col("tf") / denom


def _lookup_chunk_meta(
    chunks: DataFrame, terms: list[str], strict: bool = True
) -> tuple[DataFrame, dict]:
    """Match query terms against the CHUNKED index (INDEX_CHUNK);
    returns (matched rows, per-key winner metadata).

    The shared :func:`_match_keys` does the strict 14-byte matching
    (the byte-wise LAST matching term wins a key, replicating the
    reference's overwrite-on-load collision policy); a matched term
    keeps ALL its chunk rows.  ONE
    metadata-only aggregate (payload column dropped, so the parquet
    scan reads pruned metadata columns only) collects the tiny
    per-(key, term) stats to the driver — O(#keys x collision-set)
    rows — where the last-in-term-order collision winner (D5), the
    full-term df, doc-range bound, and list-wide max tf are all
    derived.  The winner set rides back as plan literals, so the
    final plan holds exactly one payload-bearing chunk scan (pinned by
    test_plan_shape.test_chunk_lookup_single_payload_scan) and the
    AND/OR pruning decisions downstream need NO further aggregate jobs
    (r3 VERDICT: the pruned chunk table was scanned twice per lookup
    plus once per pruning meta collect).  Not window functions, which
    would exchange every chunk of a term into one partition and
    re-serialize the heavy-term decode this layout exists to spread
    (pinned by test_chunk_rows_decode_in_multiple_tasks).

    Winner dict values carry: term, term_df, weight, last_doc, mt.
    """
    weights = _key_weights(terms, strict)
    empty = (
        chunks.limit(0)
        .withColumn("key", F.lit(""))
        .withColumn("weight", F.lit(0))
        .withColumn("term_df", F.lit(0).cast("long"))
    )
    if not weights:
        return empty, {}
    meta_rows = (
        _match_keys(chunks.drop("payload"), weights, strict)
        .groupBy("key", "term")
        .agg(
            F.sum("df").cast("long").alias("term_df"),
            F.max("weight").alias("weight"),
            F.max(F.element_at("last_doc_ids", -1)).alias("last_doc"),
            F.max(F.array_max("max_tf")).alias("mt"),
            F.count("*").alias("n_chunks"),
        )
        .collect()
    )
    winners: dict[str, dict] = {}
    for r in meta_rows:
        cur = winners.get(r["key"])
        if cur is None or r["term"] > cur["term"]:
            winners[r["key"]] = {
                "term": r["term"],
                "term_df": int(r["term_df"]),
                "weight": int(r["weight"]),
                "last_doc": int(r["last_doc"]),
                "mt": int(r["mt"]),
                "n_chunks": int(r["n_chunks"]),
            }
    if not winners:
        return empty, {}
    return _winner_rows(chunks, winners, list(winners), strict), winners


def _winner_rows(
    chunks: DataFrame, winners: dict, keys: list[str], strict: bool
) -> DataFrame:
    """Chunk rows of the collision-winning terms of ``keys`` (``winners``
    from :func:`_lookup_chunk_meta`), carrying (key, weight, term_df).
    The SCAN predicate covers ONLY ``keys``, so the pruning passes can
    decode e.g. the rare/light lists without reading the stopword
    chunks' payload bytes (a filter on a frame matched for every key
    keeps every term's range in the pushed filter; the key restriction
    would only apply after the payloads are read)."""
    term_dfs = {k: winners[k]["term_df"] for k in keys}
    term_df_of = F.create_map(
        *[F.lit(x) for kv in term_dfs.items() for x in kv]
    )
    return _winner_match(chunks, winners, keys, strict).withColumn(
        "term_df", term_df_of[F.col("key")].cast("long")
    )


def lookup_chunk_rows(
    chunks: DataFrame, terms: list[str], strict: bool = True
) -> DataFrame:
    """Matched chunk rows for ``terms`` (see :func:`_lookup_chunk_meta`)."""
    return _lookup_chunk_meta(chunks, terms, strict)[0]


def topk_bm25_chunked(
    spark: SparkSession,
    chunks: DataFrame,
    docs: DataFrame,
    stats: dict,
    query: str,
    mode: str = "and",
    k: int = 10,
    strict: bool = True,
    prune_collect_limit: int = 100_000,
    round_digits: int | None = None,
    or_prune: bool | str = "auto",
    and_prune: bool | str = "auto",
    heavy_df: int = HEAVY_QUERY_DF,
    cand_limit: int = BMW_CANDIDATE_LIMIT,
    counters: dict | None = None,
    exclude: str | None = None,
    doc_filter=None,
    exclude_doc_ids: DataFrame | None = None,
    docs_shards: list | None = None,
) -> DataFrame:
    """One top-k query over the chunked index (INDEX_CHUNK) ->
    DataFrame(doc_id, score) ordered desc.

    The one distributed serving path: a heavy (stopword-scale) term's
    postings live in many doc-range chunks, so its decode fans out one
    chunk per task instead of serializing into the single task that
    would hold a GB-scale one-row-per-term list.  Chunk payloads decode
    independently (absolute first gap); BM25 needs the FULL-term df,
    carried as ``term_df``.  Results do not depend on how a build
    salted its chunks.  Reference anchor: the blockwise layout exists
    precisely so heavy lists decode incrementally (model_support.c).

    ``stats`` needs n_docs and sum_doc_len; ``docs`` needs
    (doc_id, doc_len).  ``round_digits`` rounds the score BEFORE the
    top-k ordering (cross-engine-comparable results: ranking on raw
    doubles could differ between float implementations at the k
    boundary; ranking on rounded scores with a doc_id tiebreak cannot).
    ``or_prune`` / ``and_prune``: exact disjunctive block-max and
    conjunctive candidate pruning (see decode_matched_rows_bmw and
    and_candidate_pass); "auto" engages them above the measured
    crossovers (and_candidates_engaged is the AND rule; True skips its
    floor, never its cap), and every path falls back to full decode
    when pruning cannot help.

    ``exclude``: NOT-terms — docs containing ANY of them leave the
    result (the boolean surface the reference lacks; applied as an
    anti-join after the per-doc aggregate).  IDF/d_avr still come from
    full-corpus stats, matching the classic filtered-search semantics.
    ``doc_filter``: Column predicate over ``docs`` columns (faceted
    search); the inner doc_len join applies it before scoring, and at
    scale it pushes into the docs-table scan.
    ``exclude_doc_ids``: (doc_id) frame removed from the ranking the
    same way as NOT-terms — the logical-deletion (tombstone) surface
    (plans/deletes.py); stats stay as-indexed until a physical purge.

    ``docs_shards``: sharded serving only (operators/sharding.py) — a
    list of ``(raw_shard_docs, id_offset, shard_n_docs)`` so the
    bounded doc_id In-list reads (_doc_lens_for) rebase per shard and stay parquet-pushed on the
    physical doc_id column; the ``docs`` frame itself is then the
    shards' rebased union and serves only the corpus-scale join path.
    """
    terms = tokenize_query(query)
    matched, winners = _lookup_chunk_meta(chunks, terms, strict=strict)
    if doc_filter is not None:
        docs = docs.filter(doc_filter)
    narrow = (
        _make_docs_narrower(docs, docs_shards, doc_filter)
        if docs_shards is not None
        else None
    )
    exclude_docs = exclude_doc_ids
    if exclude or exclude_docs is not None:
        # BMW OR-pruning is UNSOUND under exclusion: theta seeds from
        # light-list candidates INCLUDING soon-to-be-excluded docs, so
        # an inflated theta could prune heavy blocks holding docs that
        # belong in the post-exclusion top-k.  Force the (exact) full
        # decode; AND-mode pruning is score-free and stays on.
        or_prune = False
    if exclude:
        ex_rows = lookup_chunk_rows(chunks, tokenize_query(exclude), strict=strict)
        term_ex = decode_matched_rows(ex_rows).select("doc_id").distinct()
        exclude_docs = (
            term_ex
            if exclude_docs is None
            else exclude_docs.select("doc_id").unionByName(term_ex).distinct()
        )

    n_docs = int(stats["n_docs"])
    davr = d_avr(stats["sum_doc_len"], n_docs)
    if or_prune == "auto":
        # posting-volume rule, free here: the single-scan lookup
        # already collected every matched term's full df
        skippable = sum(
            w["term_df"] for w in winners.values()
            # strict > matches the decoder's heavy classifier (df ==
            # heavy_df terms are decoded as light lists)
            if w["term_df"] > heavy_df
        )
        or_prune = skippable >= AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS
        if not or_prune:
            # r7 rare-candidate rule: the decode-volume floor above
            # prices only skipped DECODE; the scan prune skips READS,
            # which win far below it when candidates are rare relative
            # to the heavy chunk count (a chunk is skippable only if
            # candidate-free — kept ≈ |cands| of ~df/1M chunks).
            # Engage when the light lists are genuinely rare (their
            # summed df bounds the candidate count, within the doc_len
            # pushdown cap) and the heavy side spans at least ~2x that
            # many salter-cap-sized chunks; measured at 30M docs this
            # regime reads 241 vs 546 MB cold and halves the wall
            # (BENCH/SCALE.md needle campaign).
            light_sum = sum(
                w["term_df"] for w in winners.values()
                if w["term_df"] <= heavy_df
            )
            est_chunks = skippable // APPROX_CHUNK_POSTINGS
            or_prune = (
                0 < light_sum <= DOCLEN_PUSH_CAP
                and est_chunks >= 2 * light_sum
            )

    # all pruning metadata below comes from the winners dict the
    # lookup already collected — NO further aggregate jobs / chunk
    # scans (r3 VERDICT #4: single-scan chunk lookup)
    def rows_for(keys: list[str]) -> DataFrame:
        return _winner_rows(chunks, winners, keys, strict)

    min_doc, max_doc = 0, None
    n_keys = None
    decoded = None
    if mode == "and":
        n_keys = len(winners)
        if n_keys == 0:
            return spark.createDataFrame([], schema="doc_id long, score double")
        rare_key, rare = min(
            winners.items(), key=lambda kv: kv[1]["term_df"]
        )
        if and_prune and and_candidates_engaged(
            winners, [rare_key], force=and_prune is True
        ):
            decoded, cand = and_candidate_pass(
                chunks, winners, [rare_key], strict, counters
            )
            # result docs ⊆ candidates: their doc_lens become a local
            # relation too (a ride-along cannot pass the all-keys filter)
            docs = _local_doc_lens(spark, _doc_lens_for(docs, cand, narrow))
        elif rare["term_df"] <= prune_collect_limit:
            # chunks wholly above the rarest term's doc range never
            # even enter the decode stage (task-level pruning; block-
            # level pruning inside boundary chunks happens in decode)
            max_doc = rare["last_doc"]
            matched = matched.filter(F.col("first_doc_id") <= F.lit(max_doc))
    elif mode == "or" and or_prune:
        meta = [
            {"key": k, "df": w["term_df"], "weight": w["weight"],
             "mt": w["mt"]}
            for k, w in winners.items()
        ]
        min_dl = float(stats.get("min_doc_len", 1.0))

        def ioprune(heavy_keys, theta, cand_sorted, others_ub, cand_only):
            # chunk-granule prune can skip at most n_chunks reads: with
            # too few heavy chunks the metadata job cannot pay for
            # itself (r8; the lookup already collected exact counts)
            if sum(
                winners[k]["n_chunks"] for k in heavy_keys
            ) < OR_IOPRUNE_MIN_CHUNKS:
                return None
            return _chunk_ioprune_filter(
                chunks, winners, strict, heavy_keys, theta,
                cand_sorted, others_ub, n_docs, min_dl, davr,
                counters=counters, cand_only=cand_only,
            )

        res = _try_bmw_or_decode(
            spark, rows_for, ioprune, meta, docs, stats, n_docs, davr,
            k, heavy_df, cand_limit, counters,
            round_digits=round_digits, narrow=narrow,
        )
        if res is not None:
            decoded, docs_narrow = res
            if docs_narrow is not None:
                docs = docs_narrow

    if decoded is None:
        decoded = decode_matched_rows(
            matched, min_doc_id=min_doc, max_doc_id=max_doc
        )
    return _score_topk(
        decoded, docs, n_docs, davr, mode, n_keys, k, round_digits,
        exclude_docs=exclude_docs,
    )


def _score_topk(
    decoded: DataFrame,
    docs: DataFrame,
    n_docs: int,
    davr: float,
    mode: str,
    n_keys: int | None,
    k: int,
    round_digits: int | None,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: doc_len join -> BM25 -> agg -> top-k.
    ``exclude_docs`` (doc_id frame) anti-joins AFTER the per-doc
    aggregate — the smallest frame the exclusion can apply to."""
    scored_rows = decoded.join(docs.select("doc_id", "doc_len"), "doc_id")
    contrib = scored_rows.withColumn(
        "contrib", F.col("weight") * bm25_expr(n_docs, davr)
    )
    if mode == "and":
        # (key, doc_id) is UNIQUE in decoded postings (one winner term
        # per key; its chunk doc-ranges disjoint), so plain count(*) equals
        # count_distinct(key) — and needs one exchange instead of the
        # distinct-agg's two.
        agg = contrib.groupBy("doc_id").agg(
            F.sum("contrib").alias("score"),
            F.count("*").alias("_nk"),
        )
        agg = agg.filter(F.col("_nk") == F.lit(n_keys)).drop("_nk")
    elif mode == "or":
        agg = contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    else:
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    if exclude_docs is not None:
        agg = agg.join(exclude_docs, "doc_id", "left_anti")
    if round_digits is not None:
        agg = agg.withColumn("score", F.round(F.col("score"), round_digits))
    # ties toward earlier-seen (smaller) doc_id = reference heap policy
    return agg.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def facet_counts(
    spark: SparkSession,
    chunks: DataFrame,
    facets: DataFrame,
    query: str,
    facet_cols: list[str],
    mode: str = "and",
    top: int | None = None,
    strict: bool = True,
    exclude_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """Facet distribution of the documents matching ``query`` ->
    DataFrame(*facet_cols, n_docs) ordered by count desc.

    The search-UI companion to :func:`topk_bm25_chunked`: "this query matches
    1,204 python docs from github, 310 go docs from gitlab, ..." —
    boolean match semantics (AND: doc holds every matched key; OR:
    any), no scoring, so unknown terms drop exactly as the reference's
    query parser drops them (reference query.c:52-112 has no facet
    surface — this is part of the serving extension layer, like
    boolean NOT).

    ``chunks``: the INDEX_CHUNK frame.  ``facets``: (doc_id, *facet_cols) frame — any docs-side attribute
    table.  ``exclude_doc_ids``: tombstone frame, anti-joined against
    the match set (plans/deletes.py logical deletion), so facet counts
    honor deletions like every other query surface.

    Scale shape: the lookup shares the single payload-bearing pushed
    scan with BM25 serving; the match set is ONE doc_id aggregate
    (count(*) == count_distinct(key): (key, doc_id) is unique per the
    _score_topk argument); the facet join shuffles only matched ids
    against the facet table; the final groupBy map-side-combines to
    #distinct facet values.  No payload ever reaches the driver.  An
    AND whose rare list is small (and_candidates_engaged) takes the
    conjunctive candidate pass, and the facet read pushes the
    candidate ids into its scan.
    """
    if mode not in ("and", "or"):
        # before any lookup/action: an invalid mode must not cost a job
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    matched, winners = _lookup_chunk_meta(chunks, tokenize_query(query), strict)
    n_keys = len(winners)
    facet_side = facets.select("doc_id", *facet_cols)
    if n_keys == 0:
        return facet_side.drop("doc_id").limit(0).withColumn(
            "n_docs", F.lit(0).cast("long")
        )

    decoded = None
    if mode == "and":
        rare_key = min(winners, key=lambda k: winners[k]["term_df"])
        if and_candidates_engaged(winners, [rare_key]):
            decoded, cand = and_candidate_pass(chunks, winners, [rare_key], strict)
            # the match set is a subset of the candidates: push them
            # into the facet scan (docs files are doc_id-contiguous by
            # construction) instead of a corpus-scale facet scan
            facet_side = facet_side.filter(
                F.col("doc_id").isin([int(x) for x in cand])
            )
    if decoded is None:
        decoded = decode_matched_rows(matched)
    if mode == "and":
        match_ids = (
            decoded.groupBy("doc_id")
            .agg(F.count("*").alias("_nk"))
            .filter(F.col("_nk") == F.lit(n_keys))
            .select("doc_id")
        )
    else:
        match_ids = decoded.select("doc_id").distinct()
    if exclude_doc_ids is not None:
        match_ids = match_ids.join(
            exclude_doc_ids.select("doc_id"), "doc_id", "left_anti"
        )
    if mode == "and":
        # the match set is bounded by the rarest key's df — broadcast
        # it while that bound is broadcast-sized, so the facet table
        # streams through a hash join instead of shuffling (r8)
        if min(w["term_df"] for w in winners.values()) <= 1_000_000:
            match_ids = F.broadcast(match_ids)
    out = (
        match_ids.join(facet_side, "doc_id")
        .groupBy(*facet_cols)
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), *[F.col(c).asc() for c in facet_cols])
    )
    return out.limit(top) if top is not None else out
