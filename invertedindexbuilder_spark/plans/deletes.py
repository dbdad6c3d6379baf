"""Document deletion: logical tombstones + physical purge.

The reference engine has no deletion story (its doc ids are immutable
arrival-order integers, main.c's doc counter) — but a production corpus
at 10^12 files needs one: takedowns, license revocations, and curation
decisions arrive AFTER the index is built, and a full rebuild per
deletion batch is not an option at 100 TB.  Two-phase design, the same
shape object stores and LSM engines use:

1. **Tombstones (logical, instant)** — :func:`delete_docs` appends ids
   to a ``deleted_docs`` table (atomic generation flip, idempotent on
   replay).  Serving excludes tombstoned docs via the same post-agg
   anti-join as boolean NOT (query_exec ``exclude_doc_ids``); BM25
   stats stay as-indexed until a purge, the classic filtered-search
   semantics.  Cost per query: one broadcast-sized anti-join.

2. **Purge (physical, amortized)** — :func:`purge_deletes` rewrites
   the index WITHOUT touching the corpus: chunks whose doc range
   contains no tombstone get a one-varbyte first-gap rebase
   (operators.index_build.shift_chunks's patch, negative offset);
   only chunks actually overlapping tombstoned ids decode→filter→
   re-encode (operators.index_build.purge_chunks).  Survivor ids
   remap to the dense range ``0..n_new-1`` so the compact()/
   merge_builds() id contract keeps holding afterwards.  Work is
   O(index bytes) worst-case and O(affected chunks) for id-clustered
   deletions (a bad shard / source takedown under arrival-order ids)
   — never O(corpus re-tokenize).

Equivalence contract (pinned in tests/test_deletes.py): a purged build
serves exactly what a fresh build over the surviving corpus serves —
same merged posting lists, same docs table, same stats, same top-k.

NOTE for pre-assigned-id ingestion (plans/build.build with a source
``doc_id`` column): a purge REMAPS ids, so the upstream system's ids no
longer match the index after it.  The purge publishes an ``id_remap``
table (``old_doc_id -> new_doc_id``, survivors only) in the SAME atomic
flip so a CDC upstream can resynchronize with one join on its own ids —
no (repo, path, commit) key join over the full docs table needed.  The
table describes the LATEST purge only (each purge overwrites it); apply
it before the next compact, or after a second purge re-derive the
composition from the docs-table keys.
"""

from __future__ import annotations

import re
import shutil
import time
from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.plans.build import (
    CHUNK_ROW_GROUP_BYTES,
    SEARCH_TABLES,
    BuildManifest,
    _search_stats_frame,
    _write_stats,
    load_stats,
)
from invertedindexbuilder_spark.session import local_frame

TOMBSTONES = "deleted_docs"

# purge broadcasts the sorted tombstone array to every task (8 bytes
# per id); cap it like the other byte-sized broadcast decisions
# (curation.py / docids.py) and tell the caller to purge in passes
MAX_PURGE_IDS = 64 * (1 << 20)  # 64M ids = 512 MB broadcast


def _ids_frame(spark: SparkSession, doc_ids) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(F.col("doc_id").cast("long"))
    if isinstance(doc_ids, Iterable):
        return local_frame(
            spark, {"doc_id": [int(i) for i in doc_ids]}, "doc_id long"
        )
    raise TypeError(f"doc_ids must be a DataFrame or iterable, got {type(doc_ids)}")


def load_tombstones(spark: SparkSession, out_root: str) -> DataFrame | None:
    """The live tombstone set, or None if nothing is deleted."""
    cat = Catalog(spark, out_root)
    if not cat.exists(TOMBSTONES):
        return None
    t = cat.read(TOMBSTONES)
    return t if t.limit(1).count() else None


def _next_gen(cat: Catalog, manifest: BuildManifest) -> int:
    referenced = [
        int(m.group(1))
        for v in cat.mappings().values()
        if (m := re.search(r"\.g(\d+)$", v))
    ]
    return max([int(manifest.data.get("generation", 0)), *referenced, 0]) + 1


def delete_docs(
    spark: SparkSession,
    out_root: str,
    doc_ids,
    validate: bool = True,
) -> dict:
    """Tombstone ``doc_ids`` (DataFrame with a doc_id column, or an
    iterable of ints) in the build at ``out_root``.  Idempotent: ids
    already tombstoned are absorbed by the distinct-union, so replaying
    a deletion batch is safe.  ``validate`` rejects ids outside the
    indexed range ``[0, n_docs)`` — a typo'd id would otherwise sit in
    the table forever doing nothing.

    The new tombstone set is written to a fresh generation dir and
    published with one atomic pointer flip, so a reader never sees a
    half-written set.  Returns ``{"n_tombstones": total}``.
    """
    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)
    n_docs = int(load_stats(spark, out_root)["n_docs"])
    ids = _ids_frame(spark, doc_ids).distinct()
    if validate:
        bad = ids.filter(
            (F.col("doc_id") < 0) | (F.col("doc_id") >= n_docs)
        ).limit(1).collect()
        if bad:
            raise ValueError(
                f"doc_id {bad[0]['doc_id']} is outside the indexed range "
                f"[0, {n_docs}) — nothing with that id exists to delete"
            )
    old = load_tombstones(spark, out_root)
    if old is not None:
        ids = old.select("doc_id").unionByName(ids).distinct()
    gen = _next_gen(cat, manifest)
    phys = f"{TOMBSTONES}.g{gen}"
    cat.write(ids, phys)
    total = int(cat.read(phys).count())
    orphans = cat.publish({TOMBSTONES: phys})
    manifest.data["generation"] = gen
    manifest.record(
        "tombstones", f"n={total}", {"n_tombstones": total}
    )
    for d in orphans:
        shutil.rmtree(d, ignore_errors=True)
    return {"n_tombstones": total}


def purge_deletes(
    spark: SparkSession,
    out_root: str,
    num_partitions: int | None = None,
    purge_search_tables: bool = True,
    partition: bool = True,
) -> dict:
    """Physically remove every tombstoned doc from the build at
    ``out_root`` and clear the tombstone set.

    Rewrites docs / index_chunks / index (the merged export, if
    present) / stats into
    fresh generation dirs and publishes them together with the emptied
    tombstone table in ONE atomic tables.json flip — a crash mid-purge
    leaves the previous generation fully live (tombstones still
    applied at query time, so no deleted doc ever resurfaces).

    Stored search tables (build_search_tables) purge in the SAME flip
    at O(search-table bytes), never O(corpus re-tokenize): the per-doc
    tables (positional postings, doc-term pairs, char trigrams) drop
    tombstoned rows and remap survivor ids with the same dense remap
    as the index; term_dfs recomputes from the rewritten doc_terms;
    deletion variants depend only on the term STRING, so the
    survivors' variant rows are exactly the stored rows semi-joined to
    the surviving vocabulary.  ``purge_search_tables=False`` restores
    the old refusal (the tables would serve stale ids otherwise);
    ``partition`` mirrors build_search_tables (False skips the
    range-boundary sampling jobs at test scale).
    """
    from invertedindexbuilder_spark.operators.index_build import (
        DEFAULT_MERGE_FANIN,
        merge_chunks,
        purge_chunks,
    )

    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)
    tomb = load_tombstones(spark, out_root)
    if tomb is None:
        return {"n_purged": 0, "n_docs": int(load_stats(spark, out_root)["n_docs"])}
    has_search = [t for t in SEARCH_TABLES if cat.exists(t)]
    if has_search and not purge_search_tables:
        raise ValueError(
            f"stored search tables {has_search} are keyed by doc_id and "
            "would serve stale ids after the purge's remap — drop "
            "purge_search_tables=False (the default rewrites them in "
            "the same atomic flip), or rebuild them afterwards with "
            "build_search_tables"
        )

    t0 = time.time()
    stats = load_stats(spark, out_root)
    n_old = int(stats["n_docs"])
    n_tomb = int(tomb.count())
    if n_tomb > MAX_PURGE_IDS:
        raise ValueError(
            f"{n_tomb} tombstoned ids exceed the per-purge broadcast "
            f"cap ({MAX_PURGE_IDS}); purge in multiple passes (delete + "
            "purge a subset at a time)"
        )
    # Arrow path, not collect(): at the 64M-id cap, per-Row
    # materialization alone would dominate the purge's driver time
    deleted = np.sort(
        tomb.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    )
    n_del = len(deleted)
    bc = spark.sparkContext.broadcast(deleted)

    @F.pandas_udf("long")
    def remap(ids):
        d = bc.value
        v = ids.values.astype(np.int64)
        return type(ids)(v - np.searchsorted(d, v))

    gen = _next_gen(cat, manifest)
    manifest.set_journal("purge_started", n_old=n_old, generation=gen)

    # ---- docs: drop tombstoned rows, remap survivors (no shuffle:
    # the remap is a vectorized map over whatever partitioning the
    # table already has) ----
    docs_tbl = cat.read("docs")
    deleted_col = F.col("doc_id").isin([int(x) for x in deleted]) \
        if n_del <= 1024 else None
    survivors = (
        docs_tbl.join(tomb.select("doc_id"), "doc_id", "left_anti")
        if deleted_col is None
        else docs_tbl.filter(~deleted_col)
    )
    new_docs = survivors.withColumn("doc_id", remap(F.col("doc_id")))
    docs_phys = f"docs.g{gen}"
    cat.write(new_docs, docs_phys)
    new_docs_tbl = cat.read(docs_phys)
    dagg = new_docs_tbl.agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("sdl"),
        F.min("doc_len").alias("mdl"),
    ).collect()[0]
    n_new = int(dagg["n"])
    if n_new != n_old - n_del:
        raise ValueError(
            f"purge accounting mismatch: {n_old} docs - {n_del} tombstones "
            f"!= {n_new} survivors — tombstone set contains ids missing "
            "from the docs table; investigate before publishing"
        )
    if n_new == 0:
        raise ValueError(
            "purge would delete the entire corpus — drop the build "
            "directory instead"
        )

    # ---- id_remap: old -> new survivor ids, published in the same
    # flip (VERDICT r6 #5).  One vectorized map over the old docs table
    # (no shuffle); upstream systems holding pre-assigned ids resync
    # with a single join on old_doc_id instead of re-keying the full
    # corpus.  Overwritten by each purge: it maps THIS purge only. ----
    remap_phys = f"id_remap.g{gen}"
    cat.write(
        survivors.select(
            F.col("doc_id").alias("old_doc_id"),
            remap(F.col("doc_id")).alias("new_doc_id"),
        ),
        remap_phys,
    )

    # ---- index: shift-or-reencode per chunk; the merged export (if
    # the build keeps one) re-derives from the purged chunks ----
    chunks_phys = f"index_chunks.g{gen}"
    cat.write(purge_chunks(cat.read("index_chunks"), deleted),
              chunks_phys, row_group_bytes=CHUNK_ROW_GROUP_BYTES)
    new_chunks_tbl = cat.read(chunks_phys)
    publish_map = {
        "docs": docs_phys, "id_remap": remap_phys, "index_chunks": chunks_phys,
    }
    if cat.exists("index"):
        index_phys = f"index.g{gen}"
        cat.write(
            merge_chunks(new_chunks_tbl, fanin=DEFAULT_MERGE_FANIN),
            index_phys,
        )
        publish_map["index"] = index_phys

    m = new_chunks_tbl.agg(
        F.count_distinct("term").alias("terms"),
        F.sum("df").alias("postings"),
    ).collect()[0]
    stats_phys = f"stats.g{gen}"
    _write_stats(
        spark, cat, n_new, int(dagg["sdl"]), m, int(dagg["mdl"]),
        table=stats_phys,
    )

    # ---- search tables: filter + remap per-doc rows, re-derive the
    # vocabulary tables — O(search-table bytes), no re-tokenize ----
    if has_search:
        from invertedindexbuilder_spark.operators.textsearch import term_dfs
        from invertedindexbuilder_spark.plans.build import _range_sorted

        tomb_ids = tomb.select("doc_id")

        def _drop_and_remap(src):
            # the equi-join hoists its key to column 0: restore the
            # stored column order so the rewritten table is
            # schema-identical to a fresh build
            return (
                src.join(tomb_ids, "doc_id", "left_anti")
                .withColumn("doc_id", remap(F.col("doc_id")))
                .select(*src.columns)
            )

        for name, key in (("positional_postings", "term"),
                          ("char_trigrams", "trigram")):
            tbl = _drop_and_remap(cat.read(name))
            phys = f"{name}.g{gen}"
            cat.write(
                _range_sorted(tbl, key, "doc_id", partition=partition), phys
            )
            publish_map[name] = phys
        dt = _drop_and_remap(cat.read("doc_terms"))
        dt_phys = f"doc_terms.g{gen}"
        cat.write(_range_sorted(dt, "t", "doc_id", partition=partition), dt_phys)
        publish_map["doc_terms"] = dt_phys
        dfs_new = term_dfs(cat.read(dt_phys))
        dfs_phys = f"term_dfs.g{gen}"
        cat.write(_range_sorted(dfs_new, "t", partition=partition), dfs_phys)
        publish_map["term_dfs"] = dfs_phys
        fv = cat.read("fuzzy_variants").join(
            cat.read(dfs_phys).select(
                F.col("t").alias("term")
            ),
            "term",
            "left_semi",
        )
        fv_phys = f"fuzzy_variants.g{gen}"
        cat.write(
            _range_sorted(fv, "variant", "term", partition=partition), fv_phys
        )
        publish_map["fuzzy_variants"] = fv_phys
        st = cat.read("search_stats").collect()[0].asDict()
        ss_phys = f"search_stats.g{gen}"
        cat.write(
            _search_stats_frame(spark, n_new, int(st["max_dist"]), n_new - 1),
            ss_phys,
        )
        publish_map["search_stats"] = ss_phys

    # ---- clear tombstones in the SAME flip ----
    tomb_phys = f"{TOMBSTONES}.g{gen}"
    cat.write(local_frame(spark, {"doc_id": []}, "doc_id long"), tomb_phys)
    orphans = cat.publish(
        {**publish_map, "stats": stats_phys, TOMBSTONES: tomb_phys}
    )
    manifest.data["generation"] = gen
    manifest.set_journal("purge_published", n_old=n_old, generation=gen)
    for d in orphans:
        shutil.rmtree(d, ignore_errors=True)

    manifest.record(
        "purge",
        f"n={n_new}",
        {
            "n_purged": n_del,
            "n_docs": n_new,
            "terms": int(m["terms"]),
            "postings": int(m["postings"]),
            "wall_s": round(time.time() - t0, 3),
        },
    )
    manifest.clear_journal()
    bc.destroy()
    return {"n_purged": n_del, "n_docs": n_new}
