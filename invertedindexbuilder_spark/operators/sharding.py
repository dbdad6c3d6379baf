"""Scatter-gather BM25 serving over INDEPENDENT shard indexes.

The reference is a single-node engine: one process owns the whole
index and the whole corpus id space (main.c).  At 100 TB neither fits
one owner — the standard posture is N independently-built shard
indexes (per-source ownership, rolling rebuilds, a fresh streaming
delta next to a big base) served scatter-gather: every shard answers
with GLOBAL collection statistics, and the top-k merges across shards.
:func:`plans.build.merge_builds` already covers the *merge* half of
shard-and-merge; this module covers *serve-without-merging* — query a
base index plus a minutes-old delta shard before any compaction ran,
or indexes owned by different pipelines, with results IDENTICAL to the
federated merge (tested).

Spark-first shape: the "scatter" is a lazy ``unionByName`` of the
shard chunk tables, so ONE job covers every shard and Catalyst pushes
the term predicates into each shard's scan.  No payload byte is
rewritten anywhere:

- metadata columns (``first_doc_id``, ``last_doc_ids``) rebase to the
  global id space as pure column arithmetic;
- an ``id_offset`` column rides along, and the block decoders use it
  as block 0's delta-chain base (blocks >0 already re-base from the
  rebased ``last_doc_ids``), so shard-local payloads decode straight
  to global doc ids — query-time form of the one-varbyte first-gap
  patch :func:`operators.index_build.shift_chunks` applies at merge
  time, for zero bytes instead of one;
- global df and the D5 collision winner need no special handling: the
  serving lookup's ``groupBy(key, term).agg(sum(df))`` runs over the
  union, so it IS the cross-shard aggregate;
- collection stats (N, sum/min doc_len) combine on the driver from the
  shard stats tables — exactly how merge_builds derives them, so BM25
  constants match a single union build bit-for-bit.

Shard 0 keeps its frames untouched (offset 0 short-circuits every
rebase), so in the dominant base+delta deployment the big shard keeps
full parquet pushdown on first_doc_id/doc_id predicates; rebased
shards evaluate those two predicates post-scan (term predicates, the
main scan prune, push everywhere), and the bounded doc_id In-list
reads rebase per shard via ``docs_shards`` (query_exec._make_docs_narrower)
so the r7 O(candidates) doc_len path holds on every shard.

Contract (same as merge_builds): shard corpora are DISJOINT and each
shard's doc ids are dense 0..n-1; global id = shard offset (cumulative
n_docs of the shards before it) + local id — identical to the ids
merge_builds would assign, which is what makes sharded == merged
testable row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _union(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def sharded_view(shards: list[dict]) -> dict:
    """Assemble the virtual single-index view over shard frames.

    ``shards``: one dict per shard with keys ``chunks`` (INDEX_CHUNK
    frame), ``docs`` (doc table frame, dense local ids), ``stats``
    (dict with n_docs / sum_doc_len / min_doc_len), and optionally
    ``tombstones`` (local-id doc_id frame or None).

    Returns ``{chunks, docs, stats, tombstones, docs_shards}`` ready
    for :func:`operators.query_exec.topk_bm25_chunked`.
    """
    if not shards:
        raise ValueError("sharded_view needs at least one shard")
    ch_parts, doc_parts, tomb_parts, docs_shards = [], [], [], []
    offset = 0
    sum_dl = 0
    min_dl = None
    for sh in shards:
        st = sh["stats"]
        n = int(st["n_docs"])
        ch, d = sh["chunks"], sh["docs"]
        tomb = sh.get("tombstones")
        if offset:
            off = offset  # capture per iteration
            ch = (
                ch.withColumn(
                    "first_doc_id",
                    (F.col("first_doc_id") + F.lit(off)).cast("long"),
                )
                .withColumn(
                    "last_doc_ids",
                    F.transform(
                        "last_doc_ids", lambda x: (x + F.lit(off)).cast("long")
                    ),
                )
                .withColumn("id_offset", F.lit(off).cast("long"))
            )
            dg = d.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
            )
            if tomb is not None:
                tomb = tomb.select(
                    (F.col("doc_id") + F.lit(off)).cast("long").alias("doc_id")
                )
        else:
            ch = ch.withColumn("id_offset", F.lit(0).cast("long"))
            dg = d
            if tomb is not None:
                tomb = tomb.select(F.col("doc_id").cast("long"))
        ch_parts.append(ch)
        doc_parts.append(dg)
        docs_shards.append((d, offset, n))
        if tomb is not None:
            tomb_parts.append(tomb)
        sum_dl += int(st["sum_doc_len"])
        mdl = st.get("min_doc_len")
        if mdl is not None:
            min_dl = int(mdl) if min_dl is None else min(min_dl, int(mdl))
        offset += n
    stats = {"n_docs": offset, "sum_doc_len": sum_dl}
    if min_dl is not None:
        stats["min_doc_len"] = min_dl
    return {
        "chunks": _union(ch_parts),
        "docs": _union(doc_parts),
        "stats": stats,
        "tombstones": _union(tomb_parts) if tomb_parts else None,
        "docs_shards": docs_shards,
    }


def load_shards(spark: SparkSession, roots: list[str]) -> list[dict]:
    """Load shard frames (chunk table, docs, stats, tombstones) from
    build catalogs."""
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.plans.deletes import load_tombstones

    shards = []
    for root in roots:
        cat = Catalog(spark, root)
        shards.append(
            {
                "chunks": cat.read("index_chunks"),
                "docs": cat.read("docs"),
                "stats": load_stats(spark, root),
                "tombstones": load_tombstones(spark, root),
            }
        )
    return shards


def topk_bm25_sharded(
    spark: SparkSession,
    shards: list[dict] | list[str],
    query: str,
    mode: str = "and",
    k: int = 10,
    **kw,
) -> DataFrame:
    """Top-k BM25 across shard indexes, identical to the same query
    over :func:`plans.build.merge_builds`'s output (and to a single
    build over the union corpus).  ``shards``: shard dicts (see
    :func:`sharded_view`) or build roots (see :func:`load_shards`).
    Per-shard tombstones apply with globally-rebased ids; an
    ``exclude_doc_ids`` kwarg (GLOBAL ids) unions in on top.
    """
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )

    if shards and isinstance(shards[0], str):
        shards = load_shards(spark, list(shards))
    view = sharded_view(shards)
    excl = kw.pop("exclude_doc_ids", None)
    tomb = view["tombstones"]
    if excl is not None:
        excl = excl.select(F.col("doc_id").cast("long"))
        tomb = (
            excl
            if tomb is None
            else tomb.unionByName(excl).distinct()
        )
    return topk_bm25_chunked(
        spark,
        view["chunks"],
        view["docs"],
        view["stats"],
        query,
        mode=mode,
        k=k,
        exclude_doc_ids=tomb,
        docs_shards=view["docs_shards"],
        **kw,
    )
