"""End-to-end index build plan: docs_src -> docs, postings*, index_chunks,
index (optional export), stats.

Phase mapping to the reference (SURVEY §3.1) — each materialized table
is the analog of one of its file boundaries, and each is a resumable
checkpoint with lineage + metrics in ``manifest.json``:

  reference phase                       | this plan
  --------------------------------------+----------------------------------
  PARSE  (tokenize + tf + doc table)    | docs table + postings (narrow)
  SORT + MERGE (external sort runs)     | one repartitionByRange shuffle
  FINAL BUILD (blockwise encode)        | streaming encoder -> index_chunks
  lexicon/doc_table/inverted_list files | docs / stats / index_chunks

Resume: a phase whose output table exists and whose manifest entry
matches the input fingerprint is skipped (kill the driver mid-build,
re-run, identical artifacts — tests/test_build_e2e.py::test_resume_skips_completed_phases).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators.docids import (
    SORT_KEYS,
    CacheScope,
    attach_doc_ids,
    doc_id_map,
)
from invertedindexbuilder_spark.operators.index_build import (
    DEFAULT_MERGE_FANIN,
    encode_chunks,
    merge_chunks,
    resolve_salting,
    resolve_salting_sampled,
    salting_floor_policy,
)
from invertedindexbuilder_spark.operators.postings import (
    build_postings,
    build_postings_jvm,
)
from invertedindexbuilder_spark.session import local_frame
from invertedindexbuilder_spark.sources.docs_src import with_url


# Parquet row-group size for the payload-heavy chunk table: the row
# group is both the scan-split floor (the 128 MB default makes a term-
# clustered heavy-term region a few fat skewed decode tasks under the
# 16 MB maxPartitionBytes serving session) and the stats-pruning
# granule (smaller groups = tighter per-group term min/max)
CHUNK_ROW_GROUP_BYTES = 16 << 20


class BuildManifest:
    """Per-phase lineage + metrics, JSON on the output root."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "manifest.json")
        self.data: dict = {"phases": {}}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)

    def phase_done(self, name: str, fingerprint: str) -> bool:
        ph = self.data["phases"].get(name)
        return bool(ph and ph.get("status") == "done" and ph.get("fingerprint") == fingerprint)

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=2, sort_keys=True)
        os.replace(tmp, self.path)

    def record(self, name: str, fingerprint: str, metrics: dict) -> None:
        self.data["phases"][name] = {
            "status": "done",
            "fingerprint": fingerprint,
            **metrics,
        }
        self._flush()

    # compaction journal: written BEFORE the docs table is mutated so a
    # crash leaves an unambiguous breadcrumb of how far the compact got
    def set_journal(self, stage: str, **info) -> None:
        self.data["compact_journal"] = {"stage": stage, **info}
        self._flush()

    def clear_journal(self) -> None:
        if self.data.pop("compact_journal", None) is not None:
            self._flush()


def _fingerprint(df: DataFrame, keys: list[str]) -> str:
    """Cheap deterministic input fingerprint: row count + key hash xor."""
    agg = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*keys)).alias("h"),  # xor: order-free, no ANSI overflow
    ).collect()[0]
    return f"n={agg['n']},h={agg['h']}"


def prepare_docs(
    docs_src: DataFrame, cache_scope: CacheScope | None = None
) -> DataFrame:
    """docs_src -> docs METADATA table: deterministic doc_id,
    synthesized url, the reference's doc_len = len(url) + 1 +
    len(content) (size_of_doc, main.c:274), sha256(content) per-row
    invariant.  Content is NOT copied — like the reference's doc_table
    (model_support.c:388-425), the docs table is metadata; content
    stays in the durable source table and is re-joined by doc_id when
    needed.  The id map is built on the key columns only and joined
    back (broadcast under attach_doc_ids' limit, SMJ beyond).

    PRE-ASSIGNED IDS: a source that already carries a ``doc_id``
    column (re-index of a previous build, upstream ingestion system,
    CDC feed) skips the id-map assignment AND the join entirely —
    content then never enters any shuffle; the only wide data movement
    left in the whole build is the postings shuffle, which is O(terms
    x docs), not O(corpus bytes).  ``build()`` validates the provided
    ids (unique, non-negative) in its existing one-pass stats agg over
    the written docs table.  The reference's own assignment is scan
    order (main.c:124); providing ids makes the caller responsible for
    rank parity with it."""
    # S3 document filter (main.c:271-272): the reference skips docs
    # whose URL doesn't start with 'h' BEFORE assigning ids.  Our
    # synthesized urls always do (FIXTURES.md), so this is a no-op
    # here, but the operator is in the plan for parity.
    filtered = with_url(docs_src).filter(F.col("url").startswith("h")).drop("url")
    if "doc_id" in docs_src.columns:
        full = filtered
    else:
        ids, total = doc_id_map(filtered, cache_scope=cache_scope)
        full = attach_doc_ids(filtered, ids, total)
    return with_url(full).select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "url",
        (F.length("url") + F.lit(1) + F.length(F.coalesce(F.col("content"), F.lit(""))))
        .cast("long")
        .alias("doc_len"),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha256"),
    )


def build(
    spark: SparkSession,
    docs_src: DataFrame,
    out_root: str,
    salt_threshold: int | None = None,
    chunk_blocks: int | None = None,
    checkpoint_postings: bool = False,
    num_partitions: int | None = None,
    tokenizer: str = "arrow",
    merged: bool = True,
) -> dict:
    """Run (or resume) the full build.  Returns the manifest dict.

    Every build persists INDEX_CHUNK (``index_chunks``), the one
    serving layout: a heavy term's payload never materializes in one
    task (query_exec.topk_bm25_chunked), where at 10^12 docs a
    one-row-per-term list is a multi-GB parquet cell.  ``merged=True``
    also exports the one-row-per-term INDEX (``index``) as the
    reference-parity artifact for oracle runs and introspection — no
    query path reads it.  The export is tree-merged from the stored
    chunks (operators.index_build.merge_chunks fanin) so no single task
    concatenates more than DEFAULT_MERGE_FANIN chunk rows per level.
    ``merged=False`` skips it: the at-scale posture.

    Job-count discipline (it dominates wall time once stages scale):
    the input is scanned exactly twice on a fresh build (range-partition
    sampling + the shuffle itself), the fingerprint/row-count/doc-len
    stats come from ONE agg over the written docs table, and the index
    metrics + stats table reuse one agg over the written index.  The
    input-side fingerprint scan only happens on RESUME, where it is the
    point.
    """
    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)

    preassigned_ids = "doc_id" in docs_src.columns

    def docs_fp(df: DataFrame):
        aggs = [
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("repo", "path", "commit")).alias("h"),
            F.sum("doc_len").alias("sum_doc_len"),
            F.min("doc_len").alias("min_doc_len"),
        ]
        if preassigned_ids:
            # id validation rides the same single pass; rank-assigned
            # builds skip the distinct so they keep the cheaper plan
            aggs += [
                F.count_distinct("doc_id").alias("n_ids"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            ]
        return df.agg(*aggs).collect()[0]

    # ---- phase 1: docs (PARSE side output F3 + doc ids) ----
    t0 = time.time()
    resume_docs = manifest.data["phases"].get("docs") and cat.exists("docs")
    if resume_docs:
        fp = _fingerprint(docs_src, ["repo", "path", "commit"])
        resume_docs = manifest.phase_done("docs", fp)
    if not resume_docs:
        scope = CacheScope()
        cat.write(prepare_docs(docs_src, cache_scope=scope), "docs")
        scope.release()  # docs table is durable; drop THIS build's cache
        agg = docs_fp(cat.read("docs"))
        if not agg["n"]:
            raise ValueError(
                "no documents to index: the source (after the URL filter) "
                "is empty — check upstream filters/curation"
            )
        if preassigned_ids and (
            agg["n_ids"] != agg["n"]
            or agg["min_id"] < 0
            # density: with n distinct non-negative ids, max == n-1
            # holds iff the ids are exactly 0..n-1.  compact() assigns
            # delta ids at n_old+rank and classifies base-vs-delta rows
            # by doc_id >= n_old, and merge_builds() shifts shard B by
            # n_docs(A) — a sparse-id build would later fail compaction
            # or silently collide two documents on one id in a merge,
            # so reject it here with the contract spelled out.
            or agg["max_id"] != agg["n"] - 1
        ):
            raise ValueError(
                f"pre-assigned doc_id column is invalid: {agg['n']} rows "
                f"but {agg['n_ids']} distinct ids (min {agg['min_id']}, "
                f"max {agg['max_id']}) — ids must be exactly the dense "
                f"range 0..{agg['n'] - 1}: unique, non-negative, and gap-"
                "free (compact/merge address new docs at n..; a sparse "
                "build would collide or orphan ids there).  Drop the "
                "column to let the build assign rank-order ids instead"
            )
        fp = f"n={agg['n']},h={agg['h']}"
        manifest.record(
            "docs",
            fp,
            {
                "rows": agg["n"],
                "sum_doc_len": int(agg["sum_doc_len"]),
                "min_doc_len": int(agg["min_doc_len"]),
                "wall_s": round(time.time() - t0, 3),
            },
        )
    docs = cat.read("docs")

    # tokenizer input: content comes from the SOURCE table re-joined
    # with the checkpointed id map (docs is metadata-only); broadcast
    # join below the id-map limit, sort-merge beyond.  With
    # pre-assigned ids there is NO join — tokenize reads the source
    # scan directly and content bytes never cross a shuffle boundary.
    n_docs = int(manifest.data["phases"]["docs"]["rows"])
    if preassigned_ids:
        docs_tok = docs_src.select("doc_id", "content")
    else:
        docs_tok = attach_doc_ids(
            docs_src.select(*SORT_KEYS, "content"),
            docs.select(*SORT_KEYS, "doc_id"),
            n_docs,
        ).select("doc_id", "content")

    # Guard tokenizer parallelism: a small input can coalesce to a
    # handful of splits, serializing the CPU-bound tokenize stage.
    # Bounded by the machine's actual parallelism: repartitioning up
    # to a PARTITION-count target (observed: 32 join partitions ->
    # 240) re-shuffles every content byte for zero extra concurrency
    # — at 30M docs that second full-corpus shuffle alone overflowed
    # a single node's disk.
    min_par = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    tok_par = min(min_par, spark.sparkContext.defaultParallelism)
    if docs_tok.rdd.getNumPartitions() < tok_par:
        # target tok_par, NOT min_par: repartitioning an under-split
        # source to the (possibly data-sized) partition-count target
        # would recreate the oversized full-content shuffle this guard
        # exists to avoid — core count is all the concurrency there is
        docs_tok = docs_tok.repartition(tok_par)

    # "arrow" (r8 default): the mapInArrow RE2 tokenizer — measured
    # ~3.7x the JVM expression path at 1M docs on this box (10.4 s vs
    # 29.6 s gen+tokenize noop; guide §4.2).  "jvm" stays selectable
    # for clusters where keeping work off the Python workers wins.
    tokenize = build_postings_jvm if tokenizer == "jvm" else build_postings

    # ---- phase 2: postings (PARSE main output; optional checkpoint = the
    # reference's tmp/intermediate-N boundary) ----
    t0 = time.time()
    if checkpoint_postings:
        if not (manifest.phase_done("postings", fp) and cat.exists("postings")):
            cat.write(tokenize(docs_tok), "postings")
            manifest.record(
                "postings",
                fp,
                {
                    "rows": cat.read("postings").count(),
                    "wall_s": round(time.time() - t0, 3),
                },
            )
        postings = cat.read("postings")
    else:
        postings = tokenize(docs_tok)

    # ---- phase 3: index (SORT+MERGE shuffle + FINAL BUILD encode) ----
    t0 = time.time()
    index_done = (
        manifest.phase_done("index", fp)
        and cat.exists("index_chunks")
        and (not merged or cat.exists("index"))
    )
    if not index_done:
        # a corpus no larger than the salting floor has no heavy term:
        # no sample, no count (the rule compact's fold uses too)
        policy = salting_floor_policy(n_docs, salt_threshold, chunk_blocks)
        if policy is not None:
            eff_threshold, eff_chunk_blocks, heavy = policy
        elif checkpoint_postings:
            # postings are materialized: exact skew detection is cheap
            eff_threshold, eff_chunk_blocks, heavy = resolve_salting(
                postings, min_par, salt_threshold, chunk_blocks
            )
        else:
            # sampled detection: salting is a performance hint, and a
            # 5% estimate avoids both a second tokenize pass and a
            # postings persist (each measured as a scaling bottleneck)
            eff_threshold, eff_chunk_blocks, heavy = resolve_salting_sampled(
                docs_tok, min_par, salt_threshold, chunk_blocks, n_docs=n_docs
            )
        chunks = encode_chunks(
            postings,
            # explicit: one encode task per core whatever the corpus size
            num_partitions=min_par,
            salt_threshold=eff_threshold,
            chunk_blocks=eff_chunk_blocks,
            heavy=heavy,
        )
        # persist the chunked table — the SERVING artifact (heavy
        # terms decode one chunk per task; see
        # query_exec.topk_bm25_chunked) — and derive the merged export
        # FROM it, so encode runs once.
        #
        # TERM-RANGE-CLUSTERED layout (r7): the encode shuffle is
        # hash(term, salt), so without this every parquet file holds a
        # random term subset and its min/max stats span the whole
        # vocabulary — a single-term payload probe then reads ~40 % of
        # the table (measured cold on the 30M index: 693 MB for ONE
        # chunk row; 19 MB after clustering, 36x — BENCH/SCALE.md).
        # repartitionByRange keeps file stats tight so the query side's
        # pushed term predicates prune files/row-groups with NO
        # query-side changes; (salt, first_doc_id) sub-keys let the
        # range boundaries split a stopword's chunk run across
        # partitions, so no write-skew.  The persist bounds the cost:
        # the range sampler and the shuffle both read the cached encode
        # output instead of re-executing tokenize+encode
        # (MEMORY_AND_DISK — spills, never recomputes).
        # Purge/compact/shift outputs are narrow maps over this table,
        # so they inherit the layout.
        if cat.iceberg:
            # Iceberg tables get layout from the table's sort-order /
            # compaction config, not from write partitioning
            cat.write(chunks, "index_chunks",
                      row_group_bytes=CHUNK_ROW_GROUP_BYTES)
        else:
            from pyspark.storagelevel import StorageLevel

            chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
            cat.write(
                chunks.repartitionByRange(
                    "term", "salt", "first_doc_id"
                ).sortWithinPartitions("term", "salt", "first_doc_id"),
                "index_chunks",
                row_group_bytes=CHUNK_ROW_GROUP_BYTES,
            )
            chunks.unpersist()
        chunks = cat.read("index_chunks")
        if merged:
            cat.write(merge_chunks(chunks, fanin=DEFAULT_MERGE_FANIN), "index")
        # metrics from the chunk table (sum(df) over chunks is exactly
        # the posting count; a term is counted once however many chunks
        # it spans)
        m = chunks.agg(
            F.count_distinct("term").alias("terms"),
            F.sum("df").alias("postings"),
            F.sum(F.length("payload")).alias("payload_bytes"),
            F.sum(F.size("last_doc_ids")).alias("blocks"),
        ).collect()[0]
        manifest.record(
            "index",
            fp,
            {
                "terms": m["terms"],
                "postings": m["postings"],
                "payload_bytes": m["payload_bytes"],
                "blocks": m["blocks"],
                "salted_terms": len(heavy),
                "salt_threshold": eff_threshold,
                "chunk_blocks": eff_chunk_blocks,
                "merged": merged,
                "wall_s": round(time.time() - t0, 3),
            },
        )

    # ---- phase 4: stats (query-session constants, Q1) ----
    # no new scans: every aggregate was already recorded by the docs
    # and index phases (recompute only if an old-format manifest lacks
    # them)
    t0 = time.time()
    if not (manifest.phase_done("stats", fp) and cat.exists("stats")):
        dph = manifest.data["phases"]["docs"]
        iph = manifest.data["phases"]["index"]
        if "sum_doc_len" not in dph or "min_doc_len" not in dph:
            d = docs.agg(
                F.count("*").alias("rows"),
                F.sum("doc_len").alias("sum_doc_len"),
                F.min("doc_len").alias("min_doc_len"),
            ).collect()[0]
            dph = {
                "rows": d["rows"],
                "sum_doc_len": d["sum_doc_len"],
                "min_doc_len": d["min_doc_len"],
            }
        if "terms" not in iph:
            i = cat.read("index_chunks").agg(
                F.count_distinct("term").alias("terms"),
                F.sum("df").alias("postings"),
            ).collect()[0]
            iph = {"terms": i["terms"], "postings": i["postings"]}
        _write_stats(
            spark, cat, int(dph["rows"]), int(dph["sum_doc_len"]), iph,
            int(dph["min_doc_len"]),
        )
        manifest.record("stats", fp, {"wall_s": round(time.time() - t0, 3)})

    return manifest.data


def load_stats(spark: SparkSession, out_root: str) -> dict:
    row = Catalog(spark, out_root).read("stats").collect()[0]
    return row.asDict()


# logical names of the materialized search-extension indexes and the
# probe key each is range-partitioned + sorted on (min/max row-group
# stats then prune the probe's pushed filter to the files that matter)
SEARCH_TABLES = {
    "positional_postings": "term",
    "char_trigrams": "trigram",
    "fuzzy_variants": "variant",
    "doc_terms": "t",
    "term_dfs": "t",
}


def _range_sorted(df: DataFrame, *keys: str, partition: bool = True) -> DataFrame:
    """Range-partition + sort on the probe key(s) — the stored-table
    layout contract (file min/max stats stay tight for pushdown
    pruning).  ``partition=False`` skips the shuffle AND its
    range-boundary sampling job: correctness-neutral, for gate/test
    scale corpora where ~10 sampling jobs dominate wall time."""
    if not partition:
        return df.sortWithinPartitions(*keys)
    return df.repartitionByRange(*keys).sortWithinPartitions(*keys)


def build_search_tables(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    max_dist: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    collect_counts: bool = True,
    partition: bool = True,
) -> dict:
    """Materialize the search-extension indexes (VERDICT r3 #8) into
    the same catalog as the main build: positional postings (phrase),
    char trigrams (substring), SymSpell deletion variants (fuzzy),
    doc-term pairs + global dfs (related-terms/PMI).  Each table is
    range-partitioned and sorted on its probe key so the query-side
    IN-list / equality pushdown prunes files; `search_cli.py
    --search-index` and the bench's *_indexed entries serve from these
    stored tables.  Returns per-table row counts.

    One tokenize pass feeds both token-derived tables (doc_terms is
    derived from positional_postings, not re-exploded); the trigram
    and fuzzy tables have their own (cheap, column-pruned) passes.
    """
    from invertedindexbuilder_spark.operators.textsearch import (
        char_trigram_postings,
        positional_postings,
        term_deletion_variants,
        term_dfs,
    )

    cat = Catalog(spark, out_root)
    counts: dict[str, int] = {}

    # per-doc tables range-partition on (probe_key, doc_id): boundaries
    # on the composite key spread a Zipf-heavy key (a stopword term, a
    # hot trigram) across MANY partitions while per-file min/max stats
    # on the probe key stay tight for pushdown pruning — probe-key-only
    # ranges would serialize a stopword's whole posting set into one
    # partition/file at corpus scale
    pp = positional_postings(docs, text_col=text_col, id_col=id_col)
    cat.write(
        _range_sorted(pp, "term", "doc_id", partition=partition),
        "positional_postings",
    )
    pp_stored = cat.read("positional_postings")
    if collect_counts:
        counts["positional_postings"] = pp_stored.count()

    # doc_terms := distinct (doc_id, t) — a projection of the stored
    # positional postings (same tokenizer, already distinct per pair)
    dt = pp_stored.select("doc_id", F.col("term").alias("t"))
    cat.write(_range_sorted(dt, "t", "doc_id", partition=partition), "doc_terms")
    dt_stored = cat.read("doc_terms")
    if collect_counts:
        counts["doc_terms"] = dt_stored.count()

    dfs = term_dfs(dt_stored)
    cat.write(_range_sorted(dfs, "t", partition=partition), "term_dfs")
    if collect_counts:
        counts["term_dfs"] = cat.read("term_dfs").count()

    tg = char_trigram_postings(docs, text_col=text_col, id_col=id_col)
    cat.write(
        _range_sorted(tg, "trigram", "doc_id", partition=partition),
        "char_trigrams",
    )
    if collect_counts:
        counts["char_trigrams"] = cat.read("char_trigrams").count()

    vocab = dfs.select(F.col("t").alias("term"))
    fv = term_deletion_variants(vocab, max_dist=max_dist)
    cat.write(
        _range_sorted(fv, "variant", "term", partition=partition),
        "fuzzy_variants",
    )
    if collect_counts:
        counts["fuzzy_variants"] = cat.read("fuzzy_variants").count()

    # n_docs + max_doc_id in ONE aggregate job; max_doc_id is the
    # compact-side replay guard's O(1) watermark (VERDICT r4 #4)
    dstat = docs.agg(
        F.count_distinct(id_col).alias("n"), F.max(id_col).alias("mx")
    ).collect()[0]
    counts["n_docs"] = int(dstat["n"])
    cat.write(
        _search_stats_frame(spark, counts["n_docs"], max_dist, int(dstat["mx"])),
        "search_stats",
    )
    return counts


def _search_stats_frame(
    spark: SparkSession, n_docs: int, max_dist: int, max_doc_id: int
) -> DataFrame:
    return local_frame(
        spark,
        {"n_docs": [n_docs], "max_dist": [max_dist], "max_doc_id": [max_doc_id]},
        "n_docs long, max_dist int, max_doc_id long",
    )


def compact_search_tables(
    spark: SparkSession,
    delta_docs: DataFrame,
    out_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    collect_counts: bool = True,
    partition: bool = True,
    validate: bool = True,
) -> dict:
    """Fold a DELTA corpus into existing search tables at O(delta) cost
    (the search-table twin of :func:`compact`): per-doc tables
    (positional postings, doc-term pairs, char trigrams) APPEND the
    delta's rows — they are strictly additive under disjoint doc_ids,
    the same contract compact() enforces for the main index (and this
    function now enforces too, via the stored max_doc_id watermark:
    a replayed/overlapping delta raises before any write); the
    vocabulary tables rewrite from (stored + delta) aggregates, never
    from the base corpus: term_dfs = stored dfs merged with the delta's
    dfs (O(vocab + delta)), fuzzy deletion variants append only for
    terms the stored vocabulary has never seen.  term_dfs and
    search_stats publish as a fresh generation with ONE atomic
    tables.json flip (catalog.Catalog.publish), so a reader resolving
    through the catalog never sees a half-updated df table.

    Crash posture: the appends preceding the flip are not atomic with
    it, but every search table is a DERIVED artifact — a failed compact
    is repaired by re-running :func:`build_search_tables` over the full
    corpus (round-trip pinned in tests/test_search_tables.py).  A crash
    AFTER the generation-dir writes but before the pointer flip leaves
    a stale unreferenced g{N} dir; the next compact recomputes the same
    generation number and overwrites it (mode=overwrite below), so the
    catalog self-heals instead of failing on 'path already exists'.
    """
    import re as _re

    from invertedindexbuilder_spark.operators.textsearch import (
        char_trigram_postings,
        positional_postings,
        term_deletion_variants,
        term_dfs,
    )

    cat = Catalog(spark, out_root)
    st = cat.read("search_stats").collect()[0].asDict()
    n_docs_old, max_dist = int(st["n_docs"]), int(st["max_dist"])
    stored_dfs = cat.read("term_dfs")
    counts: dict[str, int] = {}

    # replay guard (VERDICT r4 #4): the per-doc appends below are
    # additive ONLY under disjoint doc_ids — a replayed or overlapping
    # delta would silently double-append per-doc rows and double-count
    # term_dfs.  Mirror compact()'s validation: every delta doc_id
    # must sit strictly above the stored watermark.  Old catalogs
    # (pre-r5 search_stats without max_doc_id) fall back to ONE
    # min/max-stat scan of the stored doc_terms.
    dmin_row = delta_docs.agg(
        F.min(id_col).alias("mn"), F.max(id_col).alias("mx")
    ).collect()[0]
    if dmin_row["mn"] is None:
        raise ValueError("compact_search_tables: empty delta")
    delta_min, delta_max = int(dmin_row["mn"]), int(dmin_row["mx"])
    stored_max = st.get("max_doc_id")
    if stored_max is None:
        stored_max = cat.read("doc_terms").agg(F.max("doc_id")).collect()[0][0]
    stored_max = int(stored_max)
    if validate and delta_min <= stored_max:
        raise ValueError(
            f"compact_search_tables: delta doc_ids [{delta_min}, "
            f"{delta_max}] overlap the stored corpus (max doc_id "
            f"{stored_max}) — replayed or overlapping delta; per-doc "
            "appends are only sound for strictly-newer doc_ids"
        )

    pp_d = positional_postings(delta_docs, text_col=text_col, id_col=id_col)
    pp_d = _range_sorted(pp_d, "term", "doc_id", partition=partition)
    cat.write(pp_d, "positional_postings", mode="append")

    dt_d = pp_d.select("doc_id", F.col("term").alias("t"))
    cat.write(
        _range_sorted(dt_d, "t", "doc_id", partition=partition),
        "doc_terms",
        mode="append",
    )

    tg_d = char_trigram_postings(delta_docs, text_col=text_col, id_col=id_col)
    cat.write(
        _range_sorted(tg_d, "trigram", "doc_id", partition=partition),
        "char_trigrams",
        mode="append",
    )

    dfs_d = term_dfs(dt_d)
    if collect_counts:
        counts["delta_terms"] = dfs_d.count()
    new_terms = dfs_d.join(stored_dfs, "t", "left_anti")
    counts["new_terms"] = new_terms.count()
    if counts["new_terms"]:
        fv_d = term_deletion_variants(
            new_terms.select(F.col("t").alias("term")), max_dist=max_dist
        )
        cat.write(
            _range_sorted(fv_d, "variant", "term", partition=partition),
            "fuzzy_variants",
            mode="append",
        )

    referenced = [
        int(mm.group(1))
        for v in cat.mappings().values()
        if (mm := _re.search(r"\.g(\d+)$", v))
    ]
    gen = max([*referenced, 0]) + 1
    dfs_new = _range_sorted(
        stored_dfs.unionByName(dfs_d)
        .groupBy("t")
        .agg(F.sum("df").cast("long").alias("df")),
        "t",
        partition=partition,
    )
    phys_dfs = f"term_dfs.g{gen}"
    # mode=overwrite: a crash between these writes and cat.publish
    # leaves a stale UNreferenced g{gen} dir (pointer still at
    # g{gen-1}); the next compact recomputes the same gen and must
    # reclaim it instead of dying on 'path already exists' — same
    # posture as compact()'s cat.write generation dirs
    dfs_new.write.mode("overwrite").parquet(os.path.join(out_root, phys_dfs))
    counts["n_docs_delta"] = delta_docs.select(id_col).distinct().count()
    counts["n_docs"] = n_docs_old + counts["n_docs_delta"]
    phys_stats = f"search_stats.g{gen}"
    _search_stats_frame(
        spark, counts["n_docs"], max_dist, max(stored_max, delta_max)
    ).write.mode("overwrite").parquet(os.path.join(out_root, phys_stats))
    orphans = cat.publish(
        {"term_dfs": phys_dfs, "search_stats": phys_stats}
    )
    for o in orphans:
        # only ever unreferenced previous generations (never the bare
        # 'term_dfs' initial dir of a LIVE pointerless sibling table)
        shutil.rmtree(o, ignore_errors=True)
    return counts


def load_search_tables(spark: SparkSession, out_root: str) -> dict:
    """Stored search indexes as a dict of DataFrames (+ n_docs/
    max_dist scalars) — the query-side counterpart of
    :func:`build_search_tables`."""
    cat = Catalog(spark, out_root)
    out = {name: cat.read(name) for name in SEARCH_TABLES}
    st = cat.read("search_stats").collect()[0].asDict()
    out["n_docs"] = int(st["n_docs"])
    out["max_dist"] = int(st["max_dist"])
    # compact watermark (absent in pre-r5 catalogs)
    out["max_doc_id"] = (
        int(st["max_doc_id"]) if st.get("max_doc_id") is not None else None
    )
    return out


def compact(
    spark: SparkSession,
    delta_src: DataFrame,
    out_root: str,
    salt_threshold: int | None = None,
    chunk_blocks: int | None = None,
    tokenizer: str = "arrow",
    num_partitions: int | None = None,
    validate: bool = True,
    streamed_postings: DataFrame | None = None,
) -> dict:
    """Fold a DELTA corpus (new files only) into an existing build —
    old postings are never re-tokenized or re-encoded
    (operators/index_build.compact_chunks); only the delta is, plus an
    O(index-size) rewrite of ``index_chunks`` and an append to the docs
    table.  A build that keeps the merged export (``merged=True``) also
    re-derives ``index``.

    Delta doc_ids continue after the old maximum in delta-key order —
    arrival order, exactly how the reference numbers appended input
    files (main.c doc counter); already-assigned ids are immutable.
    ``validate`` raises on replayed deltas (keys already in the docs
    table), duplicate keys WITHIN the delta, and orphan doc rows left
    by a previously failed compact — each of which would otherwise
    corrupt silently (duplicate doc_ids fan out the doc_len join).

    ``streamed_postings``: postings already tokenized by the streaming
    ingest path (streaming/ingest.incremental_postings), keyed by the
    content-stable hash id ``xxhash64(repo, path, commit)``.  When
    given, the delta is NOT re-tokenized: the hash ids are remapped to
    the dense ids just assigned to the delta docs (one join on the
    delta-sized id map) and the postings fold straight into the chunk
    compaction — the streaming -> compact -> serve junction.  Rows for
    docs outside this delta (other batches, url-filtered files) drop
    out of the inner remap join; replayed SOURCE batches are already
    rejected by ``validate`` on the docs side.  ``delta_src`` is still
    required for the docs-table append (doc_len / sha256 / url come
    from content).

    What a fold runs (parquet backend), each step sized to the delta
    except where noted:

    - ``load_stats`` and one validation action (orphans, replay and
      in-delta duplicates grouped together over the docs and delta
      keys — O(docs) keys, like the replay check must be);
    - the delta's doc ids (one range shuffle of its keys, ranked in the
      JVM) and the docs append;
    - one aggregate over the appended rows: count, doc_len sum and min,
      and the key fingerprint recorded in the manifest;
    - the delta tokenize and encode.  A delta with no more docs than the
      salting floor has no heavy term, so no skew-resolution job runs,
      and without ``num_partitions`` AQE coalesces the encode shuffle
      (one Python task and one file for a small delta);
    - the rewrite of ``index_chunks`` into a new generation (O(index)),
      one metadata aggregate over it for ``n_terms``/``n_postings``,
      the stats row as a local relation, and one pointer flip.

    Durability (parquet backend): every rewritten table — index_chunks,
    index, AND stats — is written to a fresh ``<name>.g<N>`` generation
    directory and then published with ONE atomic ``os.replace`` of
    ``tables.json`` (catalog.Catalog.publish).  Readers resolving
    through the catalog see the old generation of everything or the new
    generation of everything, never a mix, and never a half-written
    table.  A crash BEFORE the flip leaves the old view fully intact
    (plus appended orphan docs rows + unreferenced generation dirs,
    both detected/cleaned on the next compact); a crash AFTER the flip
    leaves a fully consistent NEW view with only manifest bookkeeping
    missing.  The compaction journal in manifest.json records which
    side of the flip a crash landed on, so the orphan-guard error can
    name the correct remediation.  On the Iceberg backend each table
    swap is snapshot-atomic via createOrReplace (REPLACE TABLE commits
    after the query runs, so reading the table being replaced is safe);
    cross-table atomicity there is per-table only — the documented
    tradeoff until a multi-table transaction API lands.
    """
    from invertedindexbuilder_spark.operators.index_build import (
        compact_chunks,
        merge_chunks,
    )

    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)
    has_merged = cat.exists("index")
    stats = load_stats(spark, out_root)
    n_old = int(stats["n_docs"])

    t0 = time.time()
    journal = manifest.data.get("compact_journal")
    if validate:
        check = _delta_checks(cat.read("docs"), delta_src, n_old)
        if check["orphans"]:
            # stats/index/chunks publish atomically TOGETHER (one
            # tables.json flip), so docs rows beyond stats.n_docs can
            # only mean a crash BEFORE the flip: the published view
            # still describes exactly the old corpus.
            raise ValueError(
                f"docs table contains orphans (rows with doc_id >= n_docs={n_old}): "
                "a previous compact appended its delta but crashed before "
                "publishing the index generation (journal: "
                f"{journal!r}).  The published index/stats still describe "
                f"the old corpus — delete docs rows with doc_id >= {n_old} "
                "and re-run the compact."
            )
        if journal is not None:
            # no orphans + journal present: the previous compact
            # published its generation (docs/index/stats consistent)
            # and crashed before clearing bookkeeping — safe to clear
            manifest.clear_journal()
            journal = None
        if check["replay"]:
            raise ValueError(
                "delta contains keys already present in the docs table "
                "(replayed or overlapping delta)"
            )
        if check["dup"]:
            raise ValueError(
                "delta contains duplicate (repo, path, commit) keys — "
                "the id-map join would fan out and double-count postings"
            )

    # ---- journal intent, then append delta docs (ids after n_old) ----
    # the next generation number must never collide with one the LIVE
    # pointer references (writing into a referenced dir would delete
    # files readers resolve to), so consult the pointer file as well as
    # the manifest — the manifest alone can be stale after a crash
    # between the pointer flip and the bookkeeping flush
    import re as _re

    referenced = [
        int(mm.group(1))
        for v in cat.mappings().values()
        if (mm := _re.search(r"\.g(\d+)$", v))
    ]
    gen = max([int(manifest.data.get("generation", 0)), *referenced, 0]) + 1
    manifest.set_journal("docs_appended", n_old=n_old, generation=gen)
    scope = CacheScope()
    delta_docs = prepare_docs(delta_src, cache_scope=scope).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(n_old)).cast("long")
    )
    cat.write(delta_docs, "docs", mode="append")
    scope.release()
    docs_tbl = cat.read("docs")
    dagg = docs_tbl.filter(F.col("doc_id") >= n_old).agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("sdl"),
        F.min("doc_len").alias("mdl"),
        F.bit_xor(F.xxhash64(*SORT_KEYS)).alias("h"),
    ).collect()[0]
    n_delta = int(dagg["n"])
    if n_delta == 0:
        # empty delta (or everything url-filtered): nothing appended,
        # nothing to rewrite — a clean no-op
        manifest.clear_journal()
        return manifest.data
    sdl_delta = int(dagg["sdl"])
    # running minimum: old stats may predate the min_doc_len column
    old_min = stats.get("min_doc_len")
    if old_min is None:
        old_min = int(
            cat.read("docs")
            .filter(F.col("doc_id") < n_old)
            .agg(F.min("doc_len"))
            .collect()[0][0]
        )
    new_min = min(int(old_min), int(dagg["mdl"]))

    # ---- delta postings: re-tokenize, or remap the streamed ones ----
    min_par = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    if streamed_postings is not None:
        # content-stable hash ids -> the dense ids assigned above; the
        # id map is delta-sized (broadcast under the join threshold)
        id_map = (
            docs_tbl.filter(F.col("doc_id") >= n_old)
            .select(
                F.xxhash64(*SORT_KEYS).alias("_hid"),
                F.col("doc_id").alias("_dense_id"),
            )
        )
        postings = (
            streamed_postings.select("term", "doc_id", "tf")
            .withColumnRenamed("doc_id", "_hid")
            .join(id_map, "_hid")
            .select("term", F.col("_dense_id").alias("doc_id"), "tf")
            .persist()
        )
    else:
        delta_tok = attach_doc_ids(
            delta_src.select(*SORT_KEYS, "content"),
            docs_tbl.filter(F.col("doc_id") >= n_old).select(
                *SORT_KEYS, "doc_id"
            ),
            n_delta,
        ).select("doc_id", "content")
        # same guard as the fresh build (see tok_par above): target the
        # CORE count, not the (possibly data-sized) partition-count
        # target — repartitioning an under-split delta to min_par would
        # recreate the oversized full-content shuffle for zero extra
        # concurrency (a large backfill delta hits exactly the ~230 GB
        # failure mode the fresh-path fix exists to avoid)
        delta_par = min(min_par, spark.sparkContext.defaultParallelism)
        if delta_tok.rdd.getNumPartitions() < delta_par:
            delta_tok = delta_tok.repartition(delta_par)
        tokenize = build_postings_jvm if tokenizer == "jvm" else build_postings
        # persist: when the delta is larger than the salting floor,
        # compact_chunks runs two skew-detection collects before the
        # encode shuffle — unpersisted, each would re-execute the delta
        # tokenize
        postings = tokenize(delta_tok).persist()

    # ---- new generation: old chunks pass through untouched ----
    new_chunks = compact_chunks(
        cat.read("index_chunks"),
        postings,
        num_partitions=num_partitions,
        salt_threshold=salt_threshold,
        chunk_blocks=chunk_blocks,
        n_delta_docs=n_delta,
    )

    if cat.iceberg:
        # each createOrReplace is snapshot-atomic; REPLACE TABLE runs
        # the query against the CURRENT snapshot and commits the swap
        # afterwards, so reading index_chunks while replacing it is safe
        cat.write(new_chunks, "index_chunks",
                  row_group_bytes=CHUNK_ROW_GROUP_BYTES)
        postings.unpersist()
        if has_merged:
            cat.write(
                merge_chunks(cat.read("index_chunks"), fanin=DEFAULT_MERGE_FANIN),
                "index",
            )
        chunks_for_stats = cat.read("index_chunks")
        m = chunks_for_stats.agg(
            F.count_distinct("term").alias("terms"), F.sum("df").alias("postings")
        ).collect()[0]
        _write_stats(
            spark, cat, n_old + n_delta,
            int(stats["sum_doc_len"]) + sdl_delta, m, new_min,
        )
    else:
        # parquet backend: write EVERY rewritten table into generation
        # dirs, then flip tables.json once — the only mutation readers
        # can observe is that single atomic pointer swap
        chunks_phys = f"index_chunks.g{gen}"
        cat.write(new_chunks, chunks_phys,
                  row_group_bytes=CHUNK_ROW_GROUP_BYTES)
        postings.unpersist()
        new_chunks_tbl = cat.read(chunks_phys)
        publish_map = {"index_chunks": chunks_phys}
        if has_merged:
            index_phys = f"index.g{gen}"
            cat.write(
                merge_chunks(new_chunks_tbl, fanin=DEFAULT_MERGE_FANIN),
                index_phys,
            )
            publish_map["index"] = index_phys
        m = new_chunks_tbl.agg(
            F.count_distinct("term").alias("terms"), F.sum("df").alias("postings")
        ).collect()[0]
        stats_phys = f"stats.g{gen}"
        _write_stats(
            spark, cat, n_old + n_delta,
            int(stats["sum_doc_len"]) + sdl_delta, m, new_min,
            table=stats_phys,
        )
        orphan_dirs = cat.publish({**publish_map, "stats": stats_phys})
        # persist the generation counter in the SAME flush as the
        # post-flip journal stage: a crash right after this line leaves
        # both facts on disk together
        manifest.data["generation"] = gen
        manifest.set_journal("published", n_old=n_old, generation=gen)
        for d in orphan_dirs:  # best-effort: unreferenced after the flip
            shutil.rmtree(d, ignore_errors=True)

    # ---- manifest bookkeeping ----
    # the delta's own fingerprint, from the delta aggregate above: no
    # O(docs) pass (nothing reads it back; build's resume reads only
    # the docs phase's)
    fp = f"n={n_delta},h={dagg['h']}"
    manifest.data["generation"] = gen
    manifest.record(
        "compact",
        fp,
        {
            "delta_rows": n_delta,
            "n_docs": n_old + n_delta,
            "terms": int(m["terms"]),
            "postings": int(m["postings"]),
            "wall_s": round(time.time() - t0, 3),
        },
    )
    manifest.clear_journal()
    return manifest.data


def _delta_checks(docs: DataFrame, delta_src: DataFrame, n_old: int):
    """compact()'s three validation checks as ONE action over the docs
    keys and the delta keys grouped together: ``orphans`` (docs rows at
    doc_id >= n_old, left by a compact that crashed before its
    publish), ``replay`` (a delta key already in the docs table) and
    ``dup`` (a key twice within the delta)."""
    keys = (
        docs.select(
            *SORT_KEYS,
            (F.col("doc_id") >= n_old).alias("_orphan"),
            F.lit(0).alias("_new"),
        )
        .unionByName(
            delta_src.select(
                *SORT_KEYS, F.lit(False).alias("_orphan"), F.lit(1).alias("_new")
            )
        )
        .groupBy(*SORT_KEYS)
        .agg(
            F.max("_orphan").alias("_orphan"),
            F.sum("_new").alias("_new"),
            F.count("*").alias("_n"),
        )
    )
    return keys.agg(
        F.max("_orphan").alias("orphans"),
        F.max((F.col("_new") > 0) & (F.col("_n") > F.col("_new"))).alias("replay"),
        F.max(F.col("_new") > 1).alias("dup"),
    ).collect()[0]


def merge_builds(
    spark: SparkSession,
    root_a: str,
    root_b: str,
    out_root: str,
    merged: bool = False,
    validate: bool = True,
) -> dict:
    """FEDERATED index merge: two independent builds over
    DISJOINT corpora (each with its own dense ids 0..n-1) become one
    build at ``out_root`` — the shard-and-merge pattern for building a
    10^12-doc index as independent jobs.

    Cost is metadata-only: shard B's doc ids shift by ``n_docs(A)``
    via :func:`operators.index_build.shift_chunks`, which rewrites ONE
    varbyte per chunk (the absolute first gap — everything after it is
    a delta chain, so the shift never touches posting bytes); docs
    tables union with the same id offset; stats recompute from shard
    stats plus one metadata aggregate over the unioned chunk table.
    No postings are decoded, re-sorted, or re-encoded.

    ``merged=True`` additionally derives the one-row-per-term
    reference-parity index (tree-merged).  ``validate`` rejects shards
    sharing any (repo, path, commit) key — a doc present in both
    shards would be indexed twice under two ids.
    """
    from invertedindexbuilder_spark.operators.index_build import shift_chunks

    if os.path.abspath(out_root) in (
        os.path.abspath(root_a), os.path.abspath(root_b)
    ):
        raise ValueError(
            "out_root must differ from both shard roots: the merge "
            "reads each shard while writing the output, and writing "
            "over an input would corrupt it mid-read"
        )
    cat_a, cat_b = Catalog(spark, root_a), Catalog(spark, root_b)
    cat = Catalog(spark, out_root)
    sa, sb = load_stats(spark, root_a), load_stats(spark, root_b)
    n_a = int(sa["n_docs"])
    t0 = time.time()
    if validate:
        dup = (
            cat_a.read("docs")
            .select(*SORT_KEYS)
            .join(cat_b.read("docs").select(*SORT_KEYS), SORT_KEYS, "left_semi")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "shards share (repo, path, commit) keys — merging would "
                "index the same document twice under two doc_ids"
            )
    docs_b = cat_b.read("docs").withColumn(
        "doc_id", (F.col("doc_id") + F.lit(n_a)).cast("long")
    )
    cat.write(cat_a.read("docs").unionByName(docs_b), "docs")
    chunks = cat_a.read("index_chunks").unionByName(
        shift_chunks(cat_b.read("index_chunks"), n_a)
    )
    cat.write(chunks, "index_chunks")
    if merged:
        from invertedindexbuilder_spark.operators.index_build import merge_chunks

        cat.write(
            merge_chunks(cat.read("index_chunks"), fanin=DEFAULT_MERGE_FANIN),
            "index",
        )
    m = cat.read("index_chunks").agg(
        F.count_distinct("term").alias("terms"), F.sum("df").alias("postings")
    ).collect()[0]
    _write_stats(
        spark,
        cat,
        n_a + int(sb["n_docs"]),
        int(sa["sum_doc_len"]) + int(sb["sum_doc_len"]),
        m,
        min(int(sa["min_doc_len"]), int(sb["min_doc_len"])),
    )
    manifest = BuildManifest(out_root)
    manifest.record(
        "merge_builds",
        f"a={root_a},b={root_b}",
        {
            "n_docs": n_a + int(sb["n_docs"]),
            "terms": int(m["terms"]),
            "postings": int(m["postings"]),
            "merged": merged,
            "wall_s": round(time.time() - t0, 3),
        },
    )
    return manifest.data


_STATS_SCHEMA = (
    "n_docs long, sum_doc_len long, n_terms long, n_postings long, "
    "min_doc_len long"
)


def _write_stats(
    spark: SparkSession,
    cat: Catalog,
    n_docs: int,
    sum_doc_len: int,
    m,
    min_doc_len: int,
    table: str = "stats",
) -> None:
    """The one-row stats table.  ``m``: the index metrics (``terms``,
    ``postings``).  min_doc_len is the doc_len floor of the OR
    candidate pass's heavy-list bound (query_exec)."""
    stats_df = local_frame(
        spark,
        {
            "n_docs": [int(n_docs)],
            "sum_doc_len": [int(sum_doc_len)],
            "n_terms": [int(m["terms"])],
            "n_postings": [int(m["postings"])],
            "min_doc_len": [int(min_doc_len)],
        },
        _STATS_SCHEMA,
    )
    cat.write(stats_df, table)
