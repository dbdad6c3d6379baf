"""User-facing corpus-curation plan: docs_src -> keep_list + removals
+ report, the staged pre-index pipeline of a training-data run.

Design (the 100 TB posture): curation NEVER copies content.  The
outputs are a ``keep_list`` (doc_id) and a ``removals`` (doc_id,
reason) table plus per-stage metrics in ``manifest.json``; the curated
corpus is a semi-join view (:func:`curated_docs`) against the durable
source table — exactly how ``plans.build`` treats its metadata-only
docs table.  Feeding the view to ``plans.build.build`` indexes the
curated corpus with zero extra materialization
(tests/test_curate_plan.py round-trips this).

Stages run SEQUENTIALLY on the surviving set, so each doc is removed
by exactly one stage (first-match attribution) and later, more
expensive stages (near-dup LSH) see only survivors of cheaper ones
(exact dedup, lang, quality) — the standard cost ordering.  Stage
outputs are id-only frames; nothing corpus-sized is ever collected or
cached.

Resume: same fingerprint contract as the build plan — re-running over
an unchanged source is a no-op; kill/rerun mid-plan restarts cleanly
(stages before the final write leave no partial state because only the
final keep_list/removals tables are written at all).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.text import lang_id, quality_score
from invertedindexbuilder_spark.operators.curation import repetition_stats
from invertedindexbuilder_spark.operators.dedup import (
    connected_components,
    minhash_dedup,
)
from invertedindexbuilder_spark.operators.docids import SORT_KEYS, attach_doc_ids, doc_id_map
from invertedindexbuilder_spark.plans.build import BuildManifest, _fingerprint
from invertedindexbuilder_spark.session import local_frame


def _ids_with_text(docs_src: DataFrame) -> DataFrame:
    ids, total = doc_id_map(docs_src.select(*SORT_KEYS))
    return attach_doc_ids(docs_src.select(*SORT_KEYS, "content"), ids, total).select(
        "doc_id", F.coalesce(F.col("content"), F.lit("")).alias("text")
    )


def curate(
    spark: SparkSession,
    docs_src: DataFrame,
    out_root: str,
    langs: list[str] | None = None,
    min_quality: float | None = 0.2,
    max_dup_word_frac: float | None = None,
    exact_dedup: bool = True,
    near_dup_threshold: float | None = 0.85,
    hash_mode: str = "xxhash",
    store_fingerprints: bool = True,
) -> dict:
    """Run (or resume) the curation pipeline; returns the manifest
    dict whose ``curate`` phase carries the per-stage report:
    ``docs_in``, ``removed_<stage>`` counts in application order
    (exact_dup, lang, quality, repetition, near_dup), ``docs_out``.

    ``None`` disables a stage.  Doc ids are the same deterministic
    key-order ids the build plan assigns, so a keep_list computed here
    matches the ids of a subsequent index build over the same source.
    ``store_fingerprints`` persists survivors' content hashes + LSH
    band buckets so :func:`curate_delta` can dedup later deltas
    against this corpus at O(delta) cost.
    """
    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)
    fp = _fingerprint(docs_src, SORT_KEYS)
    if manifest.phase_done("curate", fp) and cat.exists("keep_list"):
        return manifest.data

    t0 = time.time()
    d = _ids_with_text(docs_src).persist()
    report: dict[str, int] = {"docs_in": d.count()}
    survivors = d.select("doc_id")
    removal_frames: list[DataFrame] = []

    def apply_stage(name: str, losers: DataFrame) -> None:
        nonlocal survivors
        # id-only frames; localCheckpoint cuts the growing anti-join
        # lineage and pins only ids
        losers = (
            losers.join(survivors, "doc_id", "left_semi")
            .select("doc_id", F.lit(name).alias("reason"))
            .localCheckpoint()
        )
        removal_frames.append(losers)
        report[f"removed_{name}"] = losers.count()
        survivors = survivors.join(losers, "doc_id", "left_anti").localCheckpoint()

    if exact_dedup:
        sha = d.select("doc_id", F.sha2("text", 256).alias("_sha"))
        keep = sha.groupBy("_sha").agg(F.min("doc_id").alias("_keep"))
        apply_stage(
            "exact_dup",
            sha.join(keep, "_sha").filter(F.col("doc_id") != F.col("_keep")).select("doc_id"),
        )
    if langs is not None:
        apply_stage(
            "lang",
            d.filter(~lang_id(F.col("text")).isin(langs)).select("doc_id"),
        )
    if min_quality is not None:
        apply_stage(
            "quality",
            d.filter(quality_score(F.col("text")) < min_quality).select("doc_id"),
        )
    if max_dup_word_frac is not None:
        rep = repetition_stats(d)
        apply_stage(
            "repetition",
            rep.filter(F.col("dup_word_frac") > max_dup_word_frac).select("doc_id"),
        )
    if near_dup_threshold is not None:
        # the expensive stage runs LAST, on survivors only.  Losers
        # come from CONNECTED COMPONENTS of the pair graph, not a
        # pairwise larger-id rule: a~b, b~c must keep exactly one of
        # the chain (min id), and pairwise rules under-merge
        dd = d.join(survivors, "doc_id", "left_semi")
        pairs = minhash_dedup(dd, threshold=near_dup_threshold, hash_mode=hash_mode)
        cc = connected_components(pairs)
        apply_stage(
            "near_dup",
            cc.filter(F.col("doc_id") != F.col("cluster")).select("doc_id"),
        )

    report["docs_out"] = survivors.count()
    removals = (
        removal_frames[0]
        if removal_frames
        else local_frame(spark, {"doc_id": [], "reason": []},
                         "doc_id long, reason string")
    )
    for f in removal_frames[1:]:
        removals = removals.unionByName(f)
    cat.write(removals, "removals")
    cat.write(survivors.select("doc_id"), "keep_list")
    if store_fingerprints:
        _write_fingerprints(
            cat, d.join(survivors, "doc_id", "left_semi"), mode="overwrite"
        )
    d.unpersist()
    manifest.record(
        "curate", fp, {**report, "wall_s": round(time.time() - t0, 3)}
    )
    return manifest.data


def _write_fingerprints(cat: Catalog, kept: DataFrame, mode: str) -> None:
    """Persist the SURVIVING docs' dedup fingerprints: content hashes
    (exact) and LSH band buckets (near) — what a later DELTA needs to
    dedup against the base without re-reading base content.  Sizes:
    one sha row + ``bands`` bucket rows per kept doc, corpus-LINEAR
    metadata (never content)."""
    from invertedindexbuilder_spark.operators.dedup import lsh_band_buckets

    cat.write(
        kept.select("doc_id", F.sha2("text", 256).alias("content_sha256")),
        "content_hashes",
        mode=mode,
    )
    cat.write(lsh_band_buckets(kept), "lsh_buckets", mode=mode)


def curate_delta(
    spark: SparkSession,
    delta_src: DataFrame,
    out_root: str,
    base_src: DataFrame | None = None,
    langs: list[str] | None = None,
    min_quality: float | None = 0.2,
    max_dup_word_frac: float | None = None,
    near_dup_threshold: float | None = 0.85,
) -> dict:
    """Incrementally curate a DELTA corpus against an existing curation
    root (made with ``store_fingerprints=True``): stateless filters,
    exact dedup within the delta AND against the base content hashes,
    near-dup within the delta AND against the base via the stored LSH
    band buckets — base content is only touched for candidate
    verification (``base_src`` required iff near-dup is enabled, and
    only candidate base docs' text is read).

    This closes the incremental-pipeline gap: ``plans.build.compact``
    happily indexes a delta that near-duplicates already-indexed docs;
    running the delta through here first gives the same dedup
    guarantees as a full re-curation at O(delta) cost.  Delta doc ids
    continue after the base corpus (``docs_in`` of the base run), the
    same policy compact() uses.  Outputs append to keep_list/removals
    and the fingerprint tables; the report lands in the manifest under
    ``curate_delta``.  A replayed delta self-heals: every doc is
    removed as ``exact_dup_base``.
    """
    cat = Catalog(spark, out_root)
    manifest = BuildManifest(out_root)
    if not cat.exists("content_hashes"):
        raise ValueError(
            "curate_delta requires a base curate(store_fingerprints=True) "
            f"run (no content_hashes table under {out_root})"
        )
    base_in = int(manifest.data["phases"]["curate"]["docs_in"]) + sum(
        int(p["docs_in"])
        for name, p in manifest.data["phases"].items()
        if name.startswith("curate_delta")
    )
    t0 = time.time()
    d = (
        _ids_with_text(delta_src)
        .withColumn("doc_id", (F.col("doc_id") + F.lit(base_in)).cast("long"))
        .persist()
    )
    report: dict[str, int] = {"docs_in": d.count()}
    survivors = d.select("doc_id")
    removal_frames: list[DataFrame] = []

    def apply_stage(name: str, losers: DataFrame) -> None:
        nonlocal survivors
        losers = (
            losers.join(survivors, "doc_id", "left_semi")
            .select("doc_id", F.lit(name).alias("reason"))
            .localCheckpoint()
        )
        removal_frames.append(losers)
        report[f"removed_{name}"] = losers.count()
        survivors = survivors.join(losers, "doc_id", "left_anti").localCheckpoint()

    if langs is not None:
        apply_stage(
            "lang", d.filter(~lang_id(F.col("text")).isin(langs)).select("doc_id")
        )
    if min_quality is not None:
        apply_stage(
            "quality",
            d.filter(quality_score(F.col("text")) < min_quality).select("doc_id"),
        )
    if max_dup_word_frac is not None:
        rep = repetition_stats(d)
        apply_stage(
            "repetition",
            rep.filter(F.col("dup_word_frac") > max_dup_word_frac).select("doc_id"),
        )
    # exact: against the base, then within the delta
    sha = d.select("doc_id", F.sha2("text", 256).alias("_sha"))
    apply_stage(
        "exact_dup_base",
        sha.join(
            cat.read("content_hashes").select(
                F.col("content_sha256").alias("_sha")
            ),
            "_sha",
            "left_semi",
        ).select("doc_id"),
    )
    keep = sha.groupBy("_sha").agg(F.min("doc_id").alias("_keep"))
    apply_stage(
        "exact_dup",
        sha.join(keep, "_sha")
        .filter(F.col("doc_id") != F.col("_keep"))
        .select("doc_id"),
    )
    if near_dup_threshold is not None:
        from invertedindexbuilder_spark.operators.dedup import (
            jaccard_pairs,
            lsh_band_buckets,
            minhash_dedup,
        )

        dd = d.join(survivors, "doc_id", "left_semi")
        # within the delta: clusters, keep the minimum
        pairs = minhash_dedup(dd, threshold=near_dup_threshold)
        cc = connected_components(pairs)
        apply_stage(
            "near_dup",
            cc.filter(F.col("doc_id") != F.col("cluster")).select("doc_id"),
        )
        # against the base: stored band buckets -> candidate pairs ->
        # exact-jaccard verify reading ONLY candidate base docs' text
        if base_src is None:
            raise ValueError(
                "base_src is required for near-dup-vs-base verification"
            )
        dd = d.join(survivors, "doc_id", "left_semi")
        cand = (
            lsh_band_buckets(dd)
            .withColumnRenamed("doc_id", "doc_b")
            .join(
                cat.read("lsh_buckets").withColumnRenamed("doc_id", "doc_a"),
                ["band", "bucket"],
            )
            .select("doc_a", "doc_b")
            .distinct()
            .localCheckpoint()
        )
        base_cand_docs = (
            _ids_with_text(base_src)
            .join(
                cand.select(F.col("doc_a").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
        )
        verified = jaccard_pairs(
            base_cand_docs.unionByName(dd),
            threshold=near_dup_threshold,
            candidates=cand,
        )
        apply_stage(
            "near_dup_base",
            verified.select(F.col("doc_b").alias("doc_id")).distinct(),
        )

    report["docs_out"] = survivors.count()
    removals = removal_frames[0]
    for f in removal_frames[1:]:
        removals = removals.unionByName(f)
    cat.write(removals, "removals", mode="append")
    cat.write(survivors.select("doc_id"), "keep_list", mode="append")
    _write_fingerprints(
        cat, d.join(survivors, "doc_id", "left_semi"), mode="append"
    )
    d.unpersist()
    fp = _fingerprint(delta_src, SORT_KEYS)
    # phase key = run ORDINAL, not the fingerprint: a replayed delta
    # still consumed an id range (its rows land in removals), so its
    # run must keep its own docs_in entry or the NEXT delta's id
    # offset would collide with the replay's removal ids
    ordinal = 1 + sum(
        1 for k in manifest.data["phases"] if k.startswith("curate_delta")
    )
    manifest.record(
        f"curate_delta_{ordinal:04d}",
        fp,
        {**report, "wall_s": round(time.time() - t0, 3)},
    )
    return manifest.data


def curated_docs(
    spark: SparkSession,
    docs_src: DataFrame,
    out_root: str,
    id_offset: int = 0,
) -> DataFrame:
    """The curated corpus as a VIEW: source rows whose deterministic
    doc_id is in the keep_list (content never copied).  The result has
    the docs_src shape, directly feedable to ``plans.build.build``.

    Incremental roots: ids are assigned PER SLICE (base first, each
    delta offset past everything before it — the compact() id policy),
    so resolve each slice separately: ``curated_docs(base_src, root)``
    unioned with ``curated_docs(delta_src, root, id_offset=<docs_in of
    everything before the delta>)`` — the offsets are the ``docs_in``
    entries in the manifest's curate/curate_delta phases."""
    keep = Catalog(spark, out_root).read("keep_list")
    ids, total = doc_id_map(docs_src.select(*SORT_KEYS))
    with_ids = attach_doc_ids(docs_src, ids, total)
    if id_offset:
        with_ids = with_ids.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(id_offset)).cast("long")
        )
    return with_ids.join(keep, "doc_id", "left_semi").drop("doc_id")
