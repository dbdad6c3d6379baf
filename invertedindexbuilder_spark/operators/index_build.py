"""Postings -> compressed blockwise index.

This single module replaces the reference's SORT (SRT1), MERGE (M1+M2)
and FINAL BUILD (F1/F2) phases (sort_phase.c / merge_phase.c /
final_build.c):

- ONE hash-repartition shuffle on (term, salt) + sort-within-partitions
  on (term, salt, doc_id).  A Spark sort-based shuffle IS a distributed
  run-generation + k-way-merge external sort, so SRT1/M1 need no code.
  (Hash, not range: the encoder needs group contiguity per partition,
  not global term order — and range sampling would re-execute the
  tokenize lineage for boundary estimation.)
- (term, doc_id) pairs are globally unique by construction (tf is
  finished inside the tokenize stage), so the reference's duplicate-key
  combine (M2) is vacuous here.
- The encoder is a streaming mapInArrow over each sorted partition
  (r8 — was mapInPandas; runs are detected on Arrow dictionary codes
  so term strings never materialize as pandas objects): contiguous
  (term, salt) runs are gap+varbyte block-encoded with numpy
  (byte-identical to the reference block format) with carry-over of
  the partial trailing run between batches — no applyInPandas
  re-shuffle, no per-term Python in the hot loop beyond one call per
  term.

Skew (SURVEY §7.4): stopword-like terms (df up to ~N) would make one
shuffle key giant.  Terms whose df exceeds ``salt_threshold`` (computed
by a cheap partial-agg count) are salted by doc-range:
``salt = doc_id // (BLOCK_SIZE * chunk_blocks)`` so every salted chunk
holds whole blocks of a contiguous doc range.  Chunks are encoded
independently with an ABSOLUTE first gap, and a final cheap per-term
merge patches chunk k's first varbyte to ``first_doc - prev_chunk_last``
— producing bytes identical to unsalted whole-list encoding (proved in
tests/test_varbyte.py::test_chunked_encoding_equals_whole_list).

At 100 TB the chunked table is also the better SERVING layout (parallel
decode of heavy terms); the merged one-row-per-term ``index`` is the
reference-parity artifact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from invertedindexbuilder_spark import BLOCK_SIZE
from invertedindexbuilder_spark.functions.compress import (
    decode_posting_list,
    encode_posting_list,
    full_block_counts,
    vb_byte_lengths,
    vb_encode,
)
from invertedindexbuilder_spark.schemas import INDEX, INDEX_CHUNK

DEFAULT_SALT_THRESHOLD = 1_000_000  # postings per shuffle key before salting
DEFAULT_CHUNK_BLOCKS = 4096  # blocks per salted chunk (~512k postings)
MIN_SALT_THRESHOLD = 65_536  # below this a term fits one task comfortably
# Encoder carry-spill backstop: a (term, salt) run longer than this is
# flushed in block-aligned pieces (extra chunk rows, same key) instead
# of accumulating in task memory.  Salting normally keeps runs under
# ~1M postings; this bounds the damage when sampled skew detection
# misses a heavy term — the missed key costs straggler time, never OOM.
SPILL_POSTINGS = 1 << 20


def _resolve_from_tdf(
    tdf: DataFrame,
    count_col: str,
    num_partitions: int,
    salt_threshold: int | None,
    chunk_blocks: int | None,
):
    if salt_threshold is None:
        tot = tdf.agg(F.sum(count_col).alias("t")).collect()[0]["t"] or 0
        # aim for ~16 balanced waves per partition, but CAP the
        # threshold at 1M postings: at low parallelism an uncapped
        # share-based threshold stops salting entirely and the head
        # terms serialize the encode stage
        salt_threshold = max(
            MIN_SALT_THRESHOLD,
            min(1_048_576, int(tot) // max(num_partitions, 1) // 16),
        )
    heavy = [
        r["term"]
        for r in tdf.filter(F.col(count_col) > salt_threshold).select("term").collect()
    ]
    if chunk_blocks is None:
        # chunk doc-span sized so a dense (every-doc) term yields
        # ~threshold postings per chunk
        chunk_blocks = max(64, salt_threshold // BLOCK_SIZE)
    return salt_threshold, chunk_blocks, heavy


def salting_floor_policy(
    n_docs: int, salt_threshold: int | None, chunk_blocks: int | None
):
    """The salting policy of a corpus too small for any term to be
    heavy, or None when the corpus is large enough to need resolving.

    A term's df is at most ``n_docs`` (a sampled estimate too: count x
    n_docs / n_sample), and every resolved threshold is at least the
    floor — ``MIN_SALT_THRESHOLD``, or the caller's ``salt_threshold``
    as given.  So with ``n_docs`` <= the floor no term is heavy, and
    the resolution's sample, tokenize and count jobs can be skipped:
    heavy is ``[]``, the floor is the threshold that applied, and the
    chunk rows are the ones a resolved policy gives (``chunk_blocks``
    only shapes heavy terms).  The one rule for build and fold."""
    floor = MIN_SALT_THRESHOLD if salt_threshold is None else salt_threshold
    if n_docs > floor:
        return None
    if chunk_blocks is None:
        chunk_blocks = max(64, floor // BLOCK_SIZE)
    return floor, chunk_blocks, []


def resolve_salting(
    postings: DataFrame,
    num_partitions: int,
    salt_threshold: int | None,
    chunk_blocks: int | None,
):
    """Adaptive skew policy from EXACT term counts: a term is 'heavy'
    when its posting count exceeds its fair share of a partition; heavy
    terms are chunked into ~threshold-posting doc ranges.  Costs one
    partial-agg pass over postings — use the sampled variant when
    postings are not already materialized."""
    tdf = term_document_frequencies(postings)
    return _resolve_from_tdf(
        tdf, "df", num_partitions, salt_threshold, chunk_blocks
    )


def stripe_sample(
    docs: DataFrame, sample_docs: int, max_splits: int = 32
) -> DataFrame:
    """Deterministic striped head sample: the first rows of up to
    ``max_splits`` EVENLY-SPACED input splits.

    Unlike ``limit(sample_docs)`` (which reads a handful of splits and
    sees only the corpus PREFIX — a term heavy only in the corpus tail,
    e.g. a license header adopted halfway through a crawl, gets no salt
    and its full df lands on one shuffle key), the probed splits span
    the whole doc range.  Unlike ``sample(fraction)`` or a
    ``doc_id % k`` filter, unprobed splits are never touched and probed
    ones are never read past their head: the RDD iterator is
    pull-based, so ``islice`` stops deserializing after ``per_split``
    rows per task, and ``max_splits`` caps the task count however many
    splits the corpus has.  Residual blind spot: a term confined to the
    interior/unprobed splits can hide, but its df is then bounded by
    (#occupied splits x split row count), far below any salting
    threshold at scale — a term heavy enough to need salting spans many
    splits including probed heads — and a missed term degrades to a
    straggler, never a failure (encoder carry-spill)."""
    from itertools import islice

    n_splits = max(1, docs.rdd.getNumPartitions())
    probe = min(n_splits, max_splits)
    step = n_splits // probe
    per_split = max(1, -(-sample_docs // probe))
    rdd = docs.rdd.mapPartitionsWithIndex(
        lambda i, it: islice(it, per_split) if i % step == 0 else iter(())
    )
    return docs.sparkSession.createDataFrame(rdd, docs.schema)


def resolve_salting_sampled(
    docs: DataFrame,
    num_partitions: int,
    salt_threshold: int | None,
    chunk_blocks: int | None,
    n_docs: int | None = None,
    sample_docs: int = 20_000,
    content_col: str = "content",
):
    """Skew policy from a docs SAMPLE (df estimates scaled to the full
    corpus).  Salting is a performance hint, not a correctness input
    (salted and unsalted builds are decoded-identical — tested), so
    estimates suffice — and the full postings never need a second pass
    or a persist, which measured as the index-phase bottleneck.

    The sample is a per-split head stripe (:func:`stripe_sample`), so
    every doc range contributes — tail-localized heavy terms are seen
    (tests/test_salting.py pins one confined to the last 10% of
    doc_ids).  The scale factor uses the ACTUAL sampled row count, not
    the requested one (short splits under-fill their quota)."""
    from invertedindexbuilder_spark.operators.postings import build_postings

    if n_docs is None:
        n_docs = docs.count()
    sample_docs = min(sample_docs, n_docs) or 1
    # cache: tiny (<= sample_docs + n_splits rows) and read twice
    # (count + tokenize); repartition spreads the tokenize off the
    # handful of source splits the heads came from
    sampled = stripe_sample(docs, sample_docs).cache()
    n_sample = sampled.count() or 1
    scale = n_docs / n_sample
    spread = sampled.repartition(min(16, max(num_partitions, 1)))
    sample = build_postings(spread, content_col)
    # cache the per-term ESTIMATE frame (one row per distinct sample
    # term), not the postings: _resolve_from_tdf runs two actions over
    # it (share aggregate + heavy filter) and an uncached tdf would
    # re-tokenize the sample for each
    tdf = sample.groupBy("term").agg(
        (F.count("*") * F.lit(float(scale))).alias("df_est")
    ).cache()
    out = _resolve_from_tdf(
        tdf, "df_est", num_partitions, salt_threshold, chunk_blocks
    )
    tdf.unpersist()
    sampled.unpersist()
    return out


def term_document_frequencies(postings: DataFrame) -> DataFrame:
    """(term, df) — partial-agg (map-side combine) makes this cheap and
    skew-tolerant even for stopword terms."""
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def heavy_terms(postings: DataFrame, threshold: int) -> list[str]:
    rows = (
        term_document_frequencies(postings)
        .filter(F.col("df") > threshold)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def encode_chunks(
    postings: DataFrame,
    num_partitions: int | None = None,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    chunk_blocks: int = DEFAULT_CHUNK_BLOCKS,
    heavy: list[str] | None = None,
    spill_postings: int = SPILL_POSTINGS,
) -> DataFrame:
    """postings -> INDEX_CHUNK rows (salt=0 single chunk for light terms).

    Partition sizing: an explicit ``num_partitions`` fixes the encode
    shuffle's partition count (the build passes its partition target,
    so its encode keeps one task per core however small the corpus).
    Without it the shuffle is keyed on (term, salt) alone and AQE
    coalesces its partitions to the advisory size: a small fold delta
    encodes in one Python task instead of a wave of near-empty ones,
    and lands in one file.  Chunk rows are the same either way — every
    (term, salt) run is whole within one partition."""
    if heavy is None:
        heavy = heavy_terms(postings, salt_threshold)

    chunk_span = BLOCK_SIZE * chunk_blocks
    if heavy:
        heavy_set = set(heavy)
        is_heavy = F.col("term").isin(list(heavy_set))
        salted = postings.withColumn(
            "salt",
            F.when(is_heavy, (F.col("doc_id") / F.lit(chunk_span)).cast("int"))
            .otherwise(F.lit(0)),
        )
    else:
        salted = postings.withColumn("salt", F.lit(0).cast("int"))

    # HASH repartition, not range: the encoder only needs each
    # (term, salt) group contiguous within a partition, which hash +
    # sortWithinPartitions provides.  repartitionByRange would sample
    # its child for boundaries — re-executing the whole scan+tokenize
    # lineage a second time (observed: a duplicate 64-task stage).
    keys = [F.col("term"), F.col("salt")]
    ranged = (
        salted.repartition(*keys)
        if num_partitions is None
        else salted.repartition(num_partitions, *keys)
    ).sortWithinPartitions("term", "salt", "doc_id")

    def encoder(batches):
        # Arrow-native (r8, guide §4.2): the sorted (term, salt,
        # doc_id, tf) stream arrives as Arrow record batches; runs are
        # detected on dictionary CODES (no pandas object-string
        # materialization of 10^7 term cells), doc/tf go straight to
        # numpy, and only the handful of run-boundary term strings are
        # ever converted to Python.  Output multiset and bytes are
        # identical to the old pandas carry loop (encode_posting_list
        # is unchanged; pinned by the byte-exactness suite).
        import pyarrow as pa
        import pyarrow.compute as pc

        out_buf = _ChunkRowBuffer()
        carry: tuple[str, int, np.ndarray, np.ndarray] | None = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names  # columns BY NAME, not position
            col = lambda n: batch.column(names.index(n))  # noqa: E731
            d = pc.dictionary_encode(col("term"))
            codes = np.asarray(d.indices, dtype=np.int64)
            vocab = d.dictionary
            salts = np.asarray(col("salt"), dtype=np.int32)
            docs = np.asarray(col("doc_id"), dtype=np.int64)
            tfs = np.asarray(col("tf"), dtype=np.int64)
            change = np.flatnonzero(
                (codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1])
            ) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(codes)]))
            # one vectorized lookup of every run-boundary term string
            run_terms = vocab.take(pa.array(codes[starts])).to_pylist()
            first_term = run_terms[0]
            first_salt = int(salts[0])
            if carry is not None and (
                carry[0] != first_term or carry[1] != first_salt
            ):
                out_buf.add(carry[0], carry[1], carry[2], carry[3])
                carry = None
            for i, (s, e) in enumerate(zip(starts, ends)):
                term = run_terms[i]
                salt = int(salts[s])
                run_docs, run_tfs = docs[s:e], tfs[s:e]
                if carry is not None and i == 0:
                    run_docs = np.concatenate((carry[2], run_docs))
                    run_tfs = np.concatenate((carry[3], run_tfs))
                    carry = None
                if i == len(starts) - 1:
                    # tail run may continue into the next batch
                    carry = (term, salt, run_docs, run_tfs)
                    if len(run_docs) >= spill_postings:
                        # carry-spill: flush the block-aligned prefix
                        # of an oversized run as its own chunk row
                        # (same term/salt, disjoint doc range —
                        # merge_chunks orders chunks by first_doc_id,
                        # so multiple rows per key are valid and block
                        # alignment preserves merged byte-identity).
                        flush_n = (len(run_docs) // BLOCK_SIZE) * BLOCK_SIZE
                        if flush_n:
                            out_buf.add(
                                term, salt,
                                run_docs[:flush_n], run_tfs[:flush_n],
                            )
                            carry = (
                                (term, salt,
                                 run_docs[flush_n:], run_tfs[flush_n:])
                                if flush_n < len(run_docs) else None
                            )
                else:
                    out_buf.add(term, salt, run_docs, run_tfs)
            b = out_buf.drain()
            if b is not None:
                yield b
        if carry is not None and len(carry[2]):
            out_buf.add(carry[0], carry[1], carry[2], carry[3])
        b = out_buf.drain()
        if b is not None:
            yield b

    return ranged.mapInArrow(encoder, schema=INDEX_CHUNK)


class _ChunkRowBuffer:
    """Accumulates encoded chunk rows and drains them as one Arrow
    record batch per input batch (INDEX_CHUNK schema)."""

    def __init__(self) -> None:
        self.cols: dict[str, list] = {k: [] for k in INDEX_CHUNK.fieldNames()}

    def add(
        self, term: str, salt: int, docs: np.ndarray, tfs: np.ndarray
    ) -> None:
        last, sizes, mtf, payload = encode_posting_list(docs, tfs)
        c = self.cols
        c["term"].append(term)
        c["salt"].append(int(salt))
        c["first_doc_id"].append(int(docs[0]))
        c["df"].append(int(len(docs)))
        c["last_doc_ids"].append(last.tolist())
        c["block_bytes"].append([int(x) for x in sizes])
        c["block_counts"].append([int(x) for x in full_block_counts(len(docs))])
        c["max_tf"].append([int(x) for x in mtf])
        c["payload"].append(payload)

    def drain(self):
        import pyarrow as pa

        if not self.cols["term"]:
            return None
        c = self.cols
        batch = pa.record_batch(
            [
                pa.array(c["term"], type=pa.string()),
                pa.array(c["salt"], type=pa.int32()),
                pa.array(c["first_doc_id"], type=pa.int64()),
                pa.array(c["df"], type=pa.int64()),
                pa.array(c["last_doc_ids"], type=pa.list_(pa.int64())),
                pa.array(c["block_bytes"], type=pa.list_(pa.int32())),
                pa.array(c["block_counts"], type=pa.list_(pa.int32())),
                pa.array(c["max_tf"], type=pa.list_(pa.int32())),
                pa.array(c["payload"], type=pa.binary()),
            ],
            names=list(INDEX_CHUNK.fieldNames()),
        )
        self.cols = {k: [] for k in INDEX_CHUNK.fieldNames()}
        return batch


DEFAULT_MERGE_FANIN = 256  # max chunk rows concatenated by one merge task


def _merge_sorted_frame(pdf: pd.DataFrame) -> dict:
    """Merge a first_doc_id-SORTED frame of one term's chunks into a
    single logical chunk (fields as plain python values).  Shared by the
    final per-term merge and the partial (tree) level — the first
    chunk's absolute first gap is kept, every later chunk's is patched
    to delta-vs-previous-chunk, so the output remains independently
    decodable and re-mergeable."""
    if len(pdf) == 1:
        r = pdf.iloc[0]
        return {
            "term": r["term"],
            "first_doc_id": int(r["first_doc_id"]),
            "df": int(r["df"]),
            "last_doc_ids": list(r["last_doc_ids"]),
            "block_bytes": list(r["block_bytes"]),
            "block_counts": list(r["block_counts"]),
            "max_tf": list(r["max_tf"]),
            "payload": bytes(r["payload"]),
        }
    payloads = []
    last_ids: list[int] = []
    sizes: list[int] = []
    counts: list[int] = []
    mtfs: list[int] = []
    df = 0
    prev_last = 0
    for i, r in enumerate(pdf.itertuples(index=False)):
        pay = bytes(r.payload)
        first_doc = int(r.first_doc_id)
        # first chunk: prev_last==0 is the delta-chain base and
        # doc_id 0 legitimately encodes as gap 0
        if i > 0 and first_doc <= prev_last:
            # chunk doc ranges MUST be disjoint and increasing
            # (violated e.g. by compacting a delta whose doc_ids
            # overlap already-indexed docs — a replayed batch).
            # A negative first gap would vb-encode as a silent
            # 64-bit wraparound and corrupt the merged list.
            raise ValueError(
                f"overlapping chunk doc ranges for term "
                f"{pdf['term'].iloc[0]!r}: chunk starting at doc "
                f"{first_doc} begins at or before the previous "
                f"chunk's last doc {prev_last}"
            )
        if i > 0:
            old_len = int(vb_byte_lengths(np.array([first_doc]))[0])
            patched = vb_encode(
                np.array([first_doc - prev_last], dtype=np.int64)
            )
            pay = patched + pay[old_len:]
            bb = [int(x) for x in r.block_bytes]
            bb[0] += len(patched) - old_len
        else:
            bb = [int(x) for x in r.block_bytes]
        payloads.append(pay)
        last_ids.extend(int(x) for x in r.last_doc_ids)
        sizes.extend(bb)
        counts.extend(int(x) for x in r.block_counts)
        mtfs.extend(int(x) for x in r.max_tf)
        df += int(r.df)
        prev_last = int(r.last_doc_ids[-1])
    return {
        "term": pdf["term"].iloc[0],
        "first_doc_id": int(pdf["first_doc_id"].iloc[0]),
        "df": df,
        "last_doc_ids": last_ids,
        "block_bytes": sizes,
        "block_counts": counts,
        "max_tf": mtfs,
        "payload": b"".join(payloads),
    }


def _partial_merge(chunks: DataFrame, fanin: int) -> DataFrame:
    """One tree-merge level: per term, rank chunks by first_doc_id and
    merge each run of ``fanin`` consecutive chunks into one super-chunk
    (INDEX_CHUNK schema; salt = bucket ordinal).  The ranking window
    runs over a METADATA-ONLY projection (term, first_doc_id) and is
    joined back, so payload bytes are never collapsed into a single
    partition by the window — only the bounded groupBy that follows
    moves them, and every merge group holds at most ``fanin`` rows."""
    meta = chunks.select("term", "first_doc_id")
    w = Window.partitionBy("term").orderBy("first_doc_id")
    ranked = meta.withColumn(
        "_bucket", ((F.row_number().over(w) - F.lit(1)) / F.lit(fanin)).cast("int")
    )
    tagged = chunks.join(ranked, ["term", "first_doc_id"])

    def partial_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = _merge_sorted_frame(pdf.sort_values("first_doc_id"))
        return pd.DataFrame(
            {
                "term": [m["term"]],
                "salt": [int(pdf["_bucket"].iloc[0])],
                "first_doc_id": [m["first_doc_id"]],
                "df": [m["df"]],
                "last_doc_ids": [m["last_doc_ids"]],
                "block_bytes": [m["block_bytes"]],
                "block_counts": [m["block_counts"]],
                "max_tf": [m["max_tf"]],
                "payload": [m["payload"]],
            }
        )

    return tagged.groupBy("term", "_bucket").applyInPandas(
        partial_fn, schema=INDEX_CHUNK
    )


def merge_chunks(chunks: DataFrame, fanin: int | None = None) -> DataFrame:
    """INDEX_CHUNK rows -> one INDEX row per term.

    Light terms (the overwhelming majority) pass through 1:1.  Heavy
    terms concatenate their chunks in doc-range order, patching each
    chunk's first gap from absolute to delta-vs-previous-chunk.

    ``fanin`` bounds the ROW COUNT any single merge task concatenates:
    terms with more than ``fanin`` chunks first go through a tree level
    (:func:`_partial_merge`) so the final per-term group holds at most
    ``ceil(n_chunks / fanin)`` super-chunk rows instead of ~10^6 raw
    chunk rows for a stopword term at 10^12 docs.  (The final merged
    row still holds the term's whole payload — that is the artifact's
    definition; builds that don't need reference-parity bytes should
    skip the merge entirely and serve from chunks: ``plans.build(...,
    merged=False)``.)  Only terms exceeding ``fanin`` pay the extra
    shuffle — the tiny count aggregate routes everything else straight
    to the final merge.

    Guaranteed invariant: the merged row DECODES to exactly the
    whole-list postings (block tables are self-describing via
    block_counts).  Byte-identity to unsalted whole-list encoding
    additionally holds iff every non-final chunk df is a multiple of
    BLOCK_SIZE (true for dense every-doc stopword terms, whose
    doc-range chunks hold whole blocks; NOT true for sparse salted
    terms, whose ragged blocks re-segment the per-block gap/tf payload
    interleave).  Both cases are pinned in tests/test_query_chunked.py;
    tree-merge equivalence in tests/test_tree_merge.py.
    """
    if fanin is not None and fanin >= 2:
        counts = chunks.groupBy("term").agg(F.count("*").alias("_nc"))
        big = [
            r["term"]
            for r in counts.filter(F.col("_nc") > fanin).select("term").collect()
        ]
        if big:
            is_big = F.col("term").isin(big)
            cols = list(INDEX_CHUNK.fieldNames())
            chunks = (
                chunks.filter(~is_big)
                .select(*cols)
                .unionByName(_partial_merge(chunks.filter(is_big), fanin))
            )

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # order by doc range, not salt: chunks of one term are disjoint
        # doc ranges, and first_doc_id is the correct merge order even
        # when chunks come from different build GENERATIONS (incremental
        # compaction unions old and delta chunks whose salts overlap)
        m = _merge_sorted_frame(pdf.sort_values("first_doc_id"))
        return pd.DataFrame(
            {
                "term": [m["term"]],
                "df": [m["df"]],
                "last_doc_ids": [m["last_doc_ids"]],
                "block_bytes": [m["block_bytes"]],
                "block_counts": [m["block_counts"]],
                "max_tf": [m["max_tf"]],
                "payload": [m["payload"]],
            }
        )

    return chunks.groupBy("term").applyInPandas(merge_fn, schema=INDEX)


def shift_chunks(chunks: DataFrame, offset: int) -> DataFrame:
    """Rebase every chunk's doc ids by ``+offset`` WITHOUT re-encoding
    postings.  Doc ids inside a chunk are a gap (delta) chain whose
    base is the chunk's absolute first varbyte, so a corpus-wide id
    shift rewrites exactly ONE varbyte per chunk (the same first-gap
    patch merge_chunks applies when concatenating chunks) plus the
    metadata columns — O(#chunks) work, narrow mapInPandas, no
    shuffle, payload bytes otherwise untouched.  This is what makes a
    federated index merge (plans.build.merge_builds) metadata-cheap."""
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if offset == 0:
        return chunks
    cols = list(INDEX_CHUNK.fieldNames())

    def patch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            firsts, lasts, bbs, payloads = [], [], [], []
            for r in pdf.itertuples(index=False):
                old_first = int(r.first_doc_id)
                new_first = old_first + offset
                old_len = int(vb_byte_lengths(np.array([old_first]))[0])
                patched = vb_encode(np.array([new_first], dtype=np.int64))
                pay = patched + bytes(r.payload)[old_len:]
                bb = [int(x) for x in r.block_bytes]
                bb[0] += len(patched) - old_len
                firsts.append(new_first)
                lasts.append([int(x) + offset for x in r.last_doc_ids])
                bbs.append(bb)
                payloads.append(pay)
            out = pdf.copy()
            out["first_doc_id"] = firsts
            out["last_doc_ids"] = lasts
            out["block_bytes"] = bbs
            out["payload"] = payloads
            yield out[cols]

    return chunks.select(*cols).mapInPandas(patch, schema=INDEX_CHUNK)


def compact_chunks(
    old_chunks: DataFrame,
    delta_postings: DataFrame,
    num_partitions: int | None = None,
    salt_threshold: int | None = None,
    chunk_blocks: int | None = None,
    n_delta_docs: int | None = None,
) -> DataFrame:
    """Incremental index maintenance: fold a postings DELTA (new docs,
    doc_ids strictly greater than every already-indexed doc) into an
    existing chunked index WITHOUT re-encoding old postings.

    The delta is chunk-encoded on its own (same operator), unioned with
    the old chunks, and the result is a valid INDEX_CHUNK table:
    per-term chunk doc ranges stay disjoint because delta ids are
    beyond the old maximum (a violation — e.g. a replayed micro-batch —
    fails fast in merge_chunks' overlap guard instead of silently
    corrupting the gap encoding), and merge_chunks orders by first_doc_id, so
    ``merge_chunks(compact_chunks(...))`` decodes identically to a full
    rebuild over the unioned corpus (tested).  This is the batch
    compaction step the streaming ingest path (streaming/ingest.py)
    folds its micro-batch deltas through — old data is never touched,
    which at 100 TB is the difference between an hourly compaction and
    a full re-shuffle of the corpus.

    ``n_delta_docs``: the delta's document count, when the caller knows
    it; a delta no larger than the salting floor skips the skew
    resolution (:func:`salting_floor_policy`).
    """
    policy = (
        None if n_delta_docs is None
        else salting_floor_policy(n_delta_docs, salt_threshold, chunk_blocks)
    )
    if policy is not None:
        salt_threshold, chunk_blocks, heavy = policy
    elif salt_threshold is None:
        par = num_partitions or int(
            delta_postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        salt_threshold, chunk_blocks, heavy = resolve_salting(
            delta_postings, par, salt_threshold, chunk_blocks
        )
    else:
        if chunk_blocks is None:
            chunk_blocks = max(64, salt_threshold // BLOCK_SIZE)
        heavy = heavy_terms(delta_postings, salt_threshold)
    delta = encode_chunks(
        delta_postings,
        num_partitions=num_partitions,
        salt_threshold=salt_threshold,
        chunk_blocks=chunk_blocks,
        heavy=heavy,
    )
    return old_chunks.select(*delta.columns).unionByName(delta)


def purge_chunks(chunks: DataFrame, deleted_ids: np.ndarray) -> DataFrame:
    """Physically remove a set of doc ids from a chunked index and
    remap the survivors onto the dense range ``0..n_new-1`` (new_id =
    old_id − #deleted below it) — the id-space contract compact() and
    merge_builds() rely on stays intact after a purge.

    Work is O(index), never O(corpus): nothing is re-tokenized.  Two
    per-chunk cases, decided from chunk METADATA only:

    - no deleted id falls inside ``(first_doc_id, last_doc]``: every
      internal gap is unchanged and the whole id block shifts down by
      ``#deleted < first_doc_id`` — rewrite ONE varbyte (the same
      first-gap patch as :func:`shift_chunks`, here with a negative
      offset).  Deletions clustered in id space (a bad shard, a source
      takedown, a time range under the arrival-order id contract) leave
      almost every chunk on this path.
    - otherwise: decode, drop deleted postings, remap, re-encode — the
      term's canonical block layout for the surviving postings.  A
      chunk whose postings are ALL deleted drops out entirely.

    ``deleted_ids`` is broadcast as one sorted int64 array (8 bytes/id;
    callers cap it — plans/deletes.purge_deletes guards the size), so
    classification is two numpy searchsorteds per chunk and membership
    is a vectorized searchsorted per re-encoded chunk.  Uniform random
    deletions degrade gracefully to ~every chunk re-encoding, which is
    still the cost of an index rewrite, not a corpus rebuild —
    tokenization dominates a real build (BENCH/SCALE.md).
    """
    deleted = np.unique(np.asarray(deleted_ids, dtype=np.int64))
    if len(deleted) == 0:
        return chunks
    cols = list(INDEX_CHUNK.fieldNames())
    bc = chunks.sparkSession.sparkContext.broadcast(deleted)

    def rewrite(batches):
        dele = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out = {k: [] for k in cols}
            for r in pdf.itertuples(index=False):
                first = int(r.first_doc_id)
                last = int(r.last_doc_ids[-1])
                below = int(np.searchsorted(dele, first))
                inside = int(np.searchsorted(dele, last, side="right")) - below
                # deleted == first counts as "inside" (the chunk's base
                # doc itself may be tombstoned), so classify on [first,
                # last], not (first, last]
                if inside == 0:
                    if below == 0:
                        row_vals = {c: getattr(r, c) for c in cols}
                    else:
                        old_len = int(vb_byte_lengths(np.array([first]))[0])
                        patched = vb_encode(
                            np.array([first - below], dtype=np.int64)
                        )
                        bb = [int(x) for x in r.block_bytes]
                        bb[0] += len(patched) - old_len
                        row_vals = {
                            "term": r.term,
                            "salt": int(r.salt),
                            "first_doc_id": first - below,
                            "df": int(r.df),
                            "last_doc_ids": [
                                int(x) - below for x in r.last_doc_ids
                            ],
                            "block_bytes": bb,
                            "block_counts": [int(x) for x in r.block_counts],
                            "max_tf": [int(x) for x in r.max_tf],
                            "payload": patched + bytes(r.payload)[old_len:],
                        }
                else:
                    docs, tfs = decode_posting_list(
                        bytes(r.payload),
                        int(r.df),
                        np.asarray(r.block_bytes),
                        block_counts=np.asarray(r.block_counts),
                    )
                    pos = np.searchsorted(dele, docs)
                    keep = (pos >= len(dele)) | (dele[np.minimum(pos, len(dele) - 1)] != docs)
                    docs = docs[keep]
                    if not len(docs):
                        continue
                    tfs = tfs[keep]
                    docs = docs - np.searchsorted(dele, docs)
                    lastv, sizes, mtf, payload = encode_posting_list(docs, tfs)
                    row_vals = {
                        "term": r.term,
                        "salt": int(r.salt),
                        "first_doc_id": int(docs[0]),
                        "df": int(len(docs)),
                        "last_doc_ids": lastv.tolist(),
                        "block_bytes": [int(x) for x in sizes],
                        "block_counts": [
                            int(x) for x in full_block_counts(len(docs))
                        ],
                        "max_tf": [int(x) for x in mtf],
                        "payload": payload,
                    }
                for c in cols:
                    out[c].append(row_vals[c])
            if out["term"]:
                yield pd.DataFrame(out)

    return chunks.select(*cols).mapInPandas(rewrite, schema=INDEX_CHUNK)
