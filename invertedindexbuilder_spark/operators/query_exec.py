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
scalar pair.

Both modes prune with one exact rule, the set-at-a-time form of the
reference's nextGEQ skip (query.c:120-300): a candidate pass
(candidate_pass).  A few short lists decode fully and collect to the
driver; their doc_ids are the candidates.  Every other list decodes
only its candidate-bearing blocks (decode_candidate_blocks), and with
enough chunks a payload-free metadata job first drops the
candidate-free chunks from the scan (_chunk_ioprune_filter), so
skipped chunks are skipped reads.  AND takes the rarest list as the
source (single-query, batch and facet AND share one rule,
and_candidates_engaged): every result doc is a candidate.  OR takes
the light lists (df <= heavy_df): the driver scores every candidate
exactly, and the pass answers the query only if the k-th candidate
beats the heavy lists' full-list upper bound, the most a doc in no
light list can score.  That check holds for either IDF sign.  Either
way the query finishes over local relations.  A non-engaged AND still
bounds its decode by the rarest list's doc range on both sides;
everything else decodes in full — embarrassingly parallel over chunks,
and still reference-parity (the reference's OR has only docid skips,
query.c:122-151).
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

# disjunctive queries: the light lists (df <= this) are the candidate
# source of the OR candidate pass; the heavy lists above it decode only
# their candidate-bearing blocks
HEAVY_QUERY_DF = 8192
# upper bound on the light postings (sum of light dfs) the OR candidate
# pass collects to the driver; above it the OR falls back to full
# decode (which is correct, just does more IO)
OR_CANDIDATE_LIMIT = 200_000
# or_prune="auto": engage the pass only where skipped decode pays for the
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

# Candidate chunk scan filter (r7, _chunk_ioprune_filter): the
# candidate-overlap rule is evaluated per CHUNK against a payload-free
# metadata scan, and only surviving chunks enter the payload scan's
# pushed (term, first_doc_id) predicate — so skipped chunks are skipped
# READS, not just skipped decode (the r7 cold campaign showed
# decode-level skipping reading byte-for-byte what full decode reads;
# BENCH/SCALE.md).  Driver metadata stays bounded: above META_CAP
# collected chunk-metadata rows (2 scalars each) or MAX_IDS surviving
# literals the pass keeps the unfiltered scan (correct, reads more).  A
# keep fraction near 1 also keeps it — a predicate that keeps
# everything is pure planning overhead.
CANDIDATE_SCAN_META_CAP = 100_000
CANDIDATE_SCAN_MAX_IDS = 20_000
CANDIDATE_SCAN_KEEP_FRAC = 0.95
# The filter operates at CHUNK granularity: with fewer chunk rows than
# this, the payload-free metadata job costs more than the handful of
# reads it could skip (measured r8: the 1M-doc forced OR bench query
# spans ~13 heavy chunks, every one candidate-bearing, so the meta job
# always fell through to the unfiltered scan) — skip the job outright.
# Exact chunk counts ride the lookup's existing metadata aggregate, so
# this check is free.
CANDIDATE_SCAN_MIN_CHUNKS = 16
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
# Conjunctive candidate pass (candidate_pass), one rule for the
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
    order, so driver-computed bound decisions see the same values
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
    keys: list[str],
    cand_sorted: np.ndarray,
    counters: dict | None = None,
):
    """Chunk-granule candidate filter, evaluated BEFORE the payload
    read (r7) — returns a pushable Column over (term, first_doc_id)
    selecting only the chunks of ``keys`` whose doc range holds a
    candidate, or None when the filter cannot help / cannot stay
    bounded (the caller keeps the unfiltered scan — correct, reads
    more).

    Below CANDIDATE_SCAN_MIN_CHUNKS chunk rows (counted by the lookup)
    it returns None without a job.  Otherwise one payload-free
    metadata job (parquet column pruning keeps the scan to the two
    scalar columns term and first_doc_id; the clustered layout prunes
    its files by term) collects every chunk's first doc.  A term's
    chunks hold disjoint, ordered doc ranges (the layout the local
    loader also concatenates), so a chunk ends before the next one
    starts and the last one at the term's last doc (from the lookup).
    Overlap with that range contains block candidate overlap, so
    :func:`decode_candidate_blocks` downstream sees every block it
    would have decoded — results are bit-identical, only the bytes
    read change.

    Reference anchor: the per-block skip metadata
    (inverted_list.c:36-77) exists for read-skipping; this is the form
    of it that a columnar scan engine can actually convert to skipped
    bytes (pushed predicate + row-group/page stats), where the
    decode-level rule cannot (payload and metadata share rows).
    """
    if sum(winners[k]["n_chunks"] for k in keys) < CANDIDATE_SCAN_MIN_CHUNKS:
        return None
    rows = (
        _winner_match(
            chunks.select("term", "first_doc_id"), winners, keys, strict
        )
        .select("key", "first_doc_id")
        .limit(CANDIDATE_SCAN_META_CAP + 1)
        .collect()
    )
    if len(rows) > CANDIDATE_SCAN_META_CAP:
        return None
    cand = np.asarray(cand_sorted, dtype=np.int64)
    row_keys = np.array([r["key"] for r in rows])
    first = np.array([r["first_doc_id"] for r in rows], dtype=np.int64)
    order = np.lexsort((first, row_keys))
    row_keys, first = row_keys[order], first[order]
    term_end = np.append(row_keys[1:] != row_keys[:-1], True)
    last = np.where(
        term_end,
        [winners[k]["last_doc"] for k in row_keys],
        np.append(first[1:] - 1, 0),
    )
    # candidate overlap: any cand in [first, last]
    keep = np.searchsorted(cand, last, side="right") > np.searchsorted(
        cand, first, side="left"
    )

    total, kept = int(keep.size), int(keep.sum())
    if counters is not None:
        counters["chunks_total"] = counters.get("chunks_total", 0) + total
        counters["chunks_kept"] = counters.get("chunks_kept", 0) + kept
    if kept > CANDIDATE_SCAN_MAX_IDS or kept >= CANDIDATE_SCAN_KEEP_FRAC * total:
        return None
    cond = F.lit(False)
    for k in keys:
        ids = first[(row_keys == k) & keep]
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


def decode_candidate_blocks(
    matched: DataFrame, cand_sorted: np.ndarray, counters: dict | None = None
) -> DataFrame:
    """Candidate-only decode — the set-at-a-time form of the
    reference's nextGEQ skip (query.c:120-300): a block of a matched
    chunk row decodes iff its doc range holds a candidate doc
    (``cand_sorted``), and only candidate postings are emitted (a
    ride-along doc in a candidate-bearing block would carry a partial
    score).  Every block that holds a candidate decodes, so each
    candidate's postings are complete and its score exact.

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
                keep = np.flatnonzero(right > left)
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
                if docs.size:
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
    """The one engagement rule of :func:`candidate_pass`, for every
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


def candidate_pass(
    chunks: DataFrame,
    winners: dict,
    cand_keys: list[str],
    strict: bool,
    counters: dict | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """The one candidate pass, for single-query, batch and facet AND and
    for OR — the distributed form of the local session's progressive
    intersection.  ``cand_keys`` are the candidate source: each AND
    query's rarest key (a single query or a facet count is a batch of
    one), or an OR query's light keys.

    The ``cand_keys`` lists decode fully, once, and their postings
    (bounded by the caller's engagement rule) collect to the driver;
    their doc_ids are the candidates.  Every other key of ``winners``
    decodes only candidate-bearing blocks
    (:func:`decode_candidate_blocks`): the candidate-free chunks leave
    its scan (:func:`_chunk_ioprune_filter`), or at least the chunks
    past the last candidate do.  Every candidate's postings are
    therefore complete.  That makes AND exact (every result doc is a
    candidate); OR's caller checks the non-candidate bound.

    Returns ``(decoded, cand)``: decoded postings — the source ones as
    a local relation, so the caller's final plan scans only the other
    keys' chunks — and the sorted candidate doc_ids (callers read
    doc_lens or facets for those ids only).
    """
    rows = decode_matched_rows(
        _winner_rows(chunks, winners, cand_keys, strict)
    ).collect()
    cand = np.unique(
        np.fromiter((r["doc_id"] for r in rows), np.int64, count=len(rows))
    )
    decoded = _local_postings(chunks.sparkSession, rows)
    others = [k for k in winners if k not in cand_keys]
    if others and cand.size:
        pred = _chunk_ioprune_filter(
            chunks, winners, strict, others, cand, counters
        )
        if pred is None:
            pred = F.col("first_doc_id") <= F.lit(int(cand[-1]))
        other_rows = _winner_rows(chunks, winners, others, strict).filter(pred)
        decoded = decoded.unionByName(
            decode_candidate_blocks(other_rows, cand, counters)
        )
    return decoded, cand


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

    Winner dict values carry: term, term_df, weight, first_doc,
    last_doc, mt, n_chunks.
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
            F.min("first_doc_id").alias("first_doc"),
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
                "first_doc": int(r["first_doc"]),
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
    round_digits: int | None = None,
    or_prune: bool | str = "auto",
    and_prune: bool | str = "auto",
    heavy_df: int = HEAVY_QUERY_DF,
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
    ``or_prune`` / ``and_prune``: the exact candidate pass (see
    candidate_pass) for OR (light lists, df <= ``heavy_df``, as the
    source) and AND (the rarest list); "auto" engages it above the
    measured crossovers (and_candidates_engaged is the AND rule; True
    skips its floor, never its cap), and every path falls back to full
    decode when the pass cannot answer.

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
        # the OR bound check would count excluded candidates: the
        # k-th candidate it compares could be a doc the exclusion
        # removes, and a heavy-only doc could then belong in the
        # top-k.  Force the (exact) full decode; AND-mode pruning is
        # score-free and stays on.
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
    light = [t for t, w in winners.items() if w["term_df"] <= heavy_df]
    heavy = [t for t in winners if t not in light]
    light_df = sum(winners[t]["term_df"] for t in light)
    if or_prune == "auto":
        # posting-volume rule, free here: the single-scan lookup
        # already collected every matched term's full df
        skippable = sum(winners[t]["term_df"] for t in heavy)
        # r7 rare-candidate rule: the volume floor prices only skipped
        # DECODE; the chunk scan filter skips READS, which win far
        # below it when candidates are rare relative to the heavy chunk
        # count (a chunk is skippable only if candidate-free — kept ≈
        # |cands|).  Engage when the light lists are genuinely rare
        # (their summed df bounds the candidate count, within the
        # doc_len pushdown cap) and the heavy side spans at least 2x
        # that many chunks; measured at 30M docs this regime reads 241
        # vs 546 MB cold and halves the wall (BENCH/SCALE.md needle
        # campaign).
        heavy_chunks = sum(winners[t]["n_chunks"] for t in heavy)
        or_prune = skippable >= AUTO_OR_PRUNE_MIN_HEAVY_POSTINGS or (
            0 < light_df <= DOCLEN_PUSH_CAP and heavy_chunks >= 2 * light_df
        )

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
            decoded, cand = candidate_pass(
                chunks, winners, [rare_key], strict, counters
            )
            # result docs ⊆ candidates: their doc_lens become a local
            # relation too (a ride-along cannot pass the all-keys filter)
            docs = _local_doc_lens(spark, _doc_lens_for(docs, cand, narrow))
        else:
            # every result doc lies in the rarest list's doc range:
            # chunks wholly outside it never enter the decode stage, and
            # the decoder skips the blocks outside it in boundary chunks
            min_doc, max_doc = rare["first_doc"], rare["last_doc"]
            matched = matched.filter(
                (F.col("first_doc_id") <= F.lit(max_doc))
                & (F.element_at("last_doc_ids", -1) >= F.lit(min_doc))
            )
    elif (
        mode == "or" and or_prune and heavy
        and k <= light_df <= OR_CANDIDATE_LIMIT
    ):
        dec, cand = candidate_pass(chunks, winners, light, strict, counters)
        rows = dec.collect()
        dl_map = _doc_lens_for(docs, cand, narrow=narrow)
        scores = sorted(
            _driver_contribs(rows, dl_map, n_docs, davr).values(), reverse=True
        )
        # a doc in no light list scores at most the heavy lists' full
        # bounds (0 for a negative-IDF list); candidates' scores are
        # exact.  The final ranking rounds to round_digits, so the k-th
        # candidate must clear the bound by half a rounding quantum, or
        # a non-candidate could round into a tie and win the doc_id
        # tiebreak.
        min_dl = float(stats.get("min_doc_len", 1.0))
        bound = sum(
            _full_list_ub(
                float(winners[t]["mt"]), winners[t]["term_df"],
                winners[t]["weight"], n_docs, min_dl, davr,
            )
            for t in heavy
        )
        margin = 0.0 if round_digits is None else 0.5 * 10.0 ** (-round_digits)
        if len(scores) >= k and scores[k - 1] > bound + margin:
            # every result doc is a candidate whose postings and doc_len
            # are already on the driver: finish over local relations
            decoded = F.broadcast(_local_postings(spark, rows))
            docs = _local_doc_lens(spark, dl_map)

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
            decoded, cand = candidate_pass(chunks, winners, [rare_key], strict)
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
