"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run as JVM ``zip_with``/``aggregate`` expressions in
  double precision (no Python, no UDF).
- ``ivf_topk``: bucketed variant — the 100 TB scale path.  Vectors are
  assigned to deterministic sign-grid cells; probing a subset of cells
  turns the scan into a partition-pruned fraction of the data.  With
  ``probe_all=True`` it degenerates to exact search (used by the
  correctness gate; recall/latency tradeoffs come from probing fewer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invertedindexbuilder_spark.session import local_frame


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine to the vector with ``query_vec_id``
    (itself excluded).  The 1-row query side is broadcast."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(
                dot_expr(F.col(vec_col), F.col("_qvec"))
                / (norm_expr(F.col(vec_col)) * norm_expr(F.col("_qvec"))),
                round_digits,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def grid_cell_expr(vec_col: Column, dims: int = 4) -> Column:
    """Deterministic IVF cell: sign bits of the first ``dims``
    components (2^dims cells).  Pure expression — identical in SQL."""
    cell = F.lit(0)
    for d in range(dims):
        bit = F.when(F.element_at(vec_col, d + 1) > 0, F.lit(1 << d)).otherwise(
            F.lit(0)
        )
        cell = cell + bit
    return cell


def probe_ring(cell: int, dims: int, n_probes: int) -> list[int]:
    """Deterministic multi-probe ring: the query's own cell, then its
    Hamming-1 neighbors in ascending bit order (the standard LSH
    multi-probe recall knob — each extra probe flips one sign plane,
    the nearest cells by boundary distance).  ``n_probes`` caps the
    ring length (max dims + 1 cells)."""
    ring = [cell] + [cell ^ (1 << d) for d in range(dims)]
    return ring[: max(1, n_probes)]


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dims: int = 4,
    probe_cells: list[int] | None = None,
    probe_all: bool = False,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: restrict the scan to probed cells, then exact
    rerank.  probe_all=True probes every cell (exact; oracle-checkable);
    ``n_probes`` > 1 probes the query cell plus its nearest Hamming-1
    neighbor cells (:func:`probe_ring`) — the recall-vs-scan-fraction
    knob measured in tests/test_ann_recall.py.  At scale the cell
    column is a partition key of the embeddings table, so probing
    prunes file listings, not just rows."""
    with_cell = embeddings.withColumn("_cell", grid_cell_expr(F.col(vec_col), dims))
    if not probe_all:
        if probe_cells is None:
            qcell = with_cell.filter(F.col(id_col) == query_vec_id).select(
                "_cell"
            ).collect()[0][0]
            probe_cells = probe_ring(int(qcell), dims, n_probes)
        with_cell = with_cell.filter(F.col("_cell").isin(probe_cells))
    return cosine_topk(
        with_cell.drop("_cell"), query_vec_id, k, id_col=id_col, vec_col=vec_col
    )


def _sq_dist_expr(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_cell_expr(vec_col: Column, centroids: list[list[float]]) -> Column:
    """0-based index of the nearest centroid (squared L2, first-min tie
    break).  Pure JVM expressions — k aggregate/zip_with chains, no
    Python in the loop."""
    darr = F.array(*[_sq_dist_expr(vec_col, c) for c in centroids])
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column; returns
    the k centroids (driver-side list — k x dim floats, tiny).

    Per iteration: ONE job — assign cells via broadcast-literal
    centroid expressions (JVM-side), posexplode to (cell, dim)
    partial sums with map-side combine, collect k*dim aggregate rows.
    Driver state is O(k * dim); nothing corpus-sized ever leaves the
    executors.  At 100 TB, fit on ``embeddings.sample(...)`` (Lloyd's
    converges on a sample) and assign the full corpus once with
    :func:`kmeans_cell_expr`; the cell becomes a partition key so
    probes prune file listings.

    Determinism: init is the k lowest-id vectors (reproducible, unlike
    k-means++ sampling); per-update components are rounded to
    ``round_digits`` so double-sum reduction-order jitter (~1e-15)
    cannot leak into the returned centroids on well-separated data.
    Empty clusters keep their previous centroid.
    """
    vecs = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).persist()
    try:
        cents = [list(r["_v"]) for r in vecs.orderBy("_id").limit(k).collect()]
        if len(cents) < k:
            raise ValueError(f"k={k} but only {len(cents)} vectors")
        for _ in range(iters):
            rows = (
                vecs.select(
                    kmeans_cell_expr(F.col("_v"), cents).alias("_c"),
                    F.posexplode("_v").alias("_p", "_x"),
                )
                .groupBy("_c", "_p")
                .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
                .collect()
            )
            by_cell: dict[int, dict[int, tuple[float, int]]] = {}
            for r in rows:
                by_cell.setdefault(int(r["_c"]), {})[int(r["_p"])] = (
                    float(r["_s"]),
                    int(r["_n"]),
                )
            for c, dims in by_cell.items():
                cents[c] = [
                    round(dims[p][0] / dims[p][1], round_digits)
                    for p in sorted(dims)
                ]
        return cents
    finally:
        vecs.unpersist()


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    centroids: list[list[float]] | None = None,
    n_cells: int = 8,
    iters: int = 5,
    n_probes: int = 1,
    probe_all: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with TRAINED (k-means) cells instead of the fixed sign
    grid — data-adaptive Voronoi cells give the same recall at fewer
    probes on clustered embeddings (measured in test_kmeans_ivf.py).
    Probes the ``n_probes`` cells whose centroids are nearest the
    query vector (driver-side: O(k * dim)).  ``probe_all=True``
    degenerates to exact search — the oracle-gated configuration."""
    if centroids is None:
        centroids = kmeans_fit(
            embeddings, n_cells, iters, id_col=id_col, vec_col=vec_col
        )
    with_cell = embeddings.withColumn(
        "_cell", kmeans_cell_expr(_as_double(F.col(vec_col)), centroids)
    )
    if not probe_all:
        qv = [
            float(x)
            for x in embeddings.filter(F.col(id_col) == query_vec_id)
            .select(vec_col)
            .collect()[0][0]
        ]
        d = [
            sum((a - b) * (a - b) for a, b in zip(qv, c, strict=True))
            for c in centroids
        ]
        probes = sorted(range(len(centroids)), key=lambda j: (d[j], j))[
            : max(1, n_probes)
        ]
        with_cell = with_cell.filter(F.col("_cell").isin(probes))
    return cosine_topk(
        with_cell.drop("_cell"), query_vec_id, k, id_col=id_col, vec_col=vec_col
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH candidates ->
    exact cosine verify (same candidates-then-verify shape as
    MinHash+LSH in dedup.py — the 100 TB pattern).

    Candidates are pairs sharing a sign-bucket over the first
    ``planes`` components (sign-random-projection LSH with axis-aligned
    planes, deterministic so the SQL oracle reproduces it; production
    would union several random-hyperplane tables for recall).  The
    bucket self-join shuffles only (bucket) keys; the exact cosine runs
    only on candidate pairs, never all pairs.
    """
    cells = embeddings.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
        grid_cell_expr(F.col(vec_col), planes).alias("_cell"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(
                dot_expr(F.col("a.v"), F.col("b.v"))
                / (norm_expr(F.col("a.v")) * norm_expr(F.col("b.v"))),
                round_digits,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )

# --------------------------------------------------------------- stored ANN

# logical table names of the materialized ANN index (same Catalog /
# generation-pointer machinery as the main index and search tables)
ANN_TABLES = ("ann_vectors", "ann_stats")


def _ann_stats_frame(spark, n_vectors: int, dims: int, trained: bool,
                     max_vec_id: int) -> DataFrame:
    """The one-row ``ann_stats`` table as a local relation."""
    return local_frame(
        spark,
        {"n_vectors": [n_vectors], "dims": [dims], "trained": [trained],
         "max_vec_id": [max_vec_id]},
        "n_vectors long, dims int, trained boolean, max_vec_id long",
    )


def build_ann_tables(
    spark,
    embeddings: DataFrame,
    out_root: str,
    dims: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize the IVF index as a STORED table partitioned by cell
    — the serving-side counterpart of :func:`ivf_topk` and the ANN twin
    of plans.build.build_search_tables.

    ``ann_vectors`` is written ``partitionBy("cell")`` (hive-style
    ``cell=N/`` directories; Iceberg backend: identity partition
    transform), so a probe's ``cell IN (...)`` filter prunes FILE
    LISTINGS, not just rows — at 100 TB a 1-of-16 probe reads 1/16th
    of the bytes and touches 1/16th of the objects.  Cells come from
    the deterministic sign grid (``dims`` planes -> 2^dims cells) or,
    when ``centroids`` is given (:func:`kmeans_fit`), from trained
    Voronoi cells stored in ``ann_centroids``; the assignment rule is
    FROZEN at build time — compaction appends under the same rule, and
    retraining is a rebuild by contract (reassignment would rewrite
    every partition).  ``ann_stats`` carries (n_vectors, dims,
    trained, max_vec_id); max_vec_id is the compact replay guard's
    watermark, mirroring search_stats.
    """
    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, out_root)
    cell = (
        kmeans_cell_expr(_as_double(F.col(vec_col)), centroids)
        if centroids is not None
        else grid_cell_expr(F.col(vec_col), dims)
    )
    vecs = embeddings.select(
        cell.alias("cell"), F.col(id_col), F.col(vec_col)
    )
    cat.write(vecs, "ann_vectors", partition_by=["cell"])
    if centroids is not None:
        cat.write(
            local_frame(
                spark,
                {"cell": list(range(len(centroids))),
                 "centroid": [[float(x) for x in c] for c in centroids]},
                "cell int, centroid array<double>",
            ),
            "ann_centroids",
        )
    st = cat.read("ann_vectors").agg(
        F.count("*").alias("n"), F.max(id_col).alias("mx")
    ).collect()[0]
    cat.write(
        _ann_stats_frame(
            spark, int(st["n"]), dims, centroids is not None,
            int(st["mx"]) if st["mx"] is not None else -1,
        ),
        "ann_stats",
    )
    return {"n_vectors": int(st["n"]), "dims": dims,
            "trained": centroids is not None}


def compact_ann_tables(
    spark,
    delta_embeddings: DataFrame,
    out_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = True,
) -> dict:
    """Fold a delta into the stored ANN index at O(delta) cost: assign
    cells under the FROZEN build-time rule (stored centroids or the
    grid) and append — cell partitioning makes the append land in the
    right directories with no rewrite of existing files.  ``ann_stats``
    publishes as a fresh generation with one atomic pointer flip.
    Replays are rejected on the stored max_vec_id watermark (same
    contract as compact_search_tables)."""
    import os as _os
    import re as _re
    import shutil as _shutil

    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, out_root)
    st = cat.read("ann_stats").collect()[0].asDict()
    rng = delta_embeddings.agg(
        F.min(id_col).alias("mn"), F.max(id_col).alias("mx"),
        F.count("*").alias("n"),
    ).collect()[0]
    if rng["mn"] is None:
        raise ValueError("compact_ann_tables: empty delta")
    if validate and int(rng["mn"]) <= int(st["max_vec_id"]):
        raise ValueError(
            f"compact_ann_tables: delta vec_ids [{int(rng['mn'])}, "
            f"{int(rng['mx'])}] overlap the stored index (max_vec_id "
            f"{int(st['max_vec_id'])}) — replayed or overlapping delta"
        )
    if bool(st["trained"]):
        cents = [
            list(r["centroid"])
            for r in cat.read("ann_centroids").orderBy("cell").collect()
        ]
        cell = kmeans_cell_expr(_as_double(F.col(vec_col)), cents)
    else:
        cell = grid_cell_expr(F.col(vec_col), int(st["dims"]))
    cat.write(
        delta_embeddings.select(
            cell.alias("cell"), F.col(id_col), F.col(vec_col)
        ),
        "ann_vectors",
        mode="append",
        partition_by=["cell"],
    )
    referenced = [
        int(mm.group(1))
        for v in cat.mappings().values()
        if (mm := _re.search(r"\.g(\d+)$", v))
    ]
    gen = max([*referenced, 0]) + 1
    phys = f"ann_stats.g{gen}"
    _ann_stats_frame(
        spark, int(st["n_vectors"]) + int(rng["n"]), int(st["dims"]),
        bool(st["trained"]), int(rng["mx"]),
    ).write.mode("overwrite").parquet(_os.path.join(out_root, phys))
    for o in cat.publish({"ann_stats": phys}):
        _shutil.rmtree(o, ignore_errors=True)
    return {"n_delta": int(rng["n"]),
            "n_vectors": int(st["n_vectors"]) + int(rng["n"])}


ANN_TOMBSTONES = "ann_deleted"


def load_ann_tombstones(spark, out_root: str) -> DataFrame | None:
    """The stored ANN index's live tombstone set, or None."""
    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, out_root)
    if not cat.exists(ANN_TOMBSTONES):
        return None
    t = cat.read(ANN_TOMBSTONES)
    return t if t.limit(1).count() else None


def delete_ann_vectors(spark, out_root: str, vec_ids, validate: bool = True) -> dict:
    """Tombstone ``vec_ids`` in the stored ANN index (the ANN twin of
    plans.deletes.delete_docs): serving excludes them immediately via
    an anti-join in :func:`ann_topk_stored`; the vectors stay on disk
    until :func:`purge_ann_deletes`.  Idempotent (distinct-union) and
    atomic (one generation-pointer flip).  ``validate`` requires every
    id to exist in the stored table — vec_ids are NOT dense, so the
    check is a semi-join count, one job."""
    import re as _re
    import shutil as _shutil
    from collections.abc import Iterable as _Iterable

    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, out_root)
    if isinstance(vec_ids, DataFrame):
        ids = vec_ids.select(F.col("vec_id").cast("long"))
    elif isinstance(vec_ids, _Iterable):
        ids = local_frame(
            spark, {"vec_id": [int(i) for i in vec_ids]}, "vec_id long"
        )
    else:
        raise TypeError(f"vec_ids must be a DataFrame or iterable, got {type(vec_ids)}")
    ids = ids.distinct()
    if validate:
        n_req = ids.count()
        n_found = ids.join(
            cat.read("ann_vectors").select("vec_id"), "vec_id", "left_semi"
        ).count()
        if n_found != n_req:
            raise ValueError(
                f"{n_req - n_found} of {n_req} vec_ids do not exist in the "
                "stored ANN index — nothing with those ids to delete"
            )
    old = load_ann_tombstones(spark, out_root)
    if old is not None:
        ids = old.select("vec_id").unionByName(ids).distinct()
    referenced = [
        int(mm.group(1))
        for v in cat.mappings().values()
        if (mm := _re.search(r"\.g(\d+)$", v))
    ]
    gen = max([*referenced, 0]) + 1
    phys = f"{ANN_TOMBSTONES}.g{gen}"
    cat.write(ids, phys)
    total = int(spark.read.parquet(cat.path(phys)).count())
    for o in cat.publish({ANN_TOMBSTONES: phys}):
        _shutil.rmtree(o, ignore_errors=True)
    return {"n_tombstones": total}


def purge_ann_deletes(spark, out_root: str) -> dict:
    """Physically drop tombstoned vectors and clear the tombstone set.

    O(affected cells), not O(index): the cell partitioning locates
    every tombstoned row's directory, the surviving rows of ONLY those
    cells are staged to a temp dir (breaking the read-from/write-to
    cycle), and a DYNAMIC partition overwrite swaps just those
    ``cell=N/`` directories — untouched cells are never read or
    written.  vec_ids are not remapped (no dense-id contract for
    vectors) and the max_vec_id watermark is kept, so compaction's
    replay guard still rejects id reuse after a purge.

    Crash posture: the tombstone pointer flips LAST, so serving is
    correct at every intermediate state (rewritten cells merely lack
    the deleted rows; un-rewritten cells still have them excluded by
    the live tombstones), and re-running the purge is idempotent."""
    import os as _os
    import re as _re
    import shutil as _shutil

    from invertedindexbuilder_spark.catalog import Catalog

    cat = Catalog(spark, out_root)
    tomb = load_ann_tombstones(spark, out_root)
    st = cat.read("ann_stats").collect()[0].asDict()
    if tomb is None:
        return {"n_purged": 0, "n_vectors": int(st["n_vectors"])}
    vecs = cat.read("ann_vectors")
    hit = vecs.join(tomb.select("vec_id"), "vec_id", "left_semi")
    cells = sorted(int(r["cell"]) for r in hit.select("cell").distinct().collect())
    n_del = int(hit.count())
    if cells:
        vec_path = cat.path("ann_vectors")
        tmp = vec_path + ".purge_tmp"
        _shutil.rmtree(tmp, ignore_errors=True)
        clean = vecs.filter(F.col("cell").isin(cells)).join(
            tomb.select("vec_id"), "vec_id", "left_anti"
        )
        clean.write.partitionBy("cell").parquet(tmp)
        staged_cells: set[int] = set()
        if any(
            f.startswith("cell=") for f in _os.listdir(tmp)
        ):  # some survivors remain in the affected cells
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            try:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                staged = spark.read.parquet(tmp)
                staged.write.mode("overwrite").partitionBy("cell").parquet(
                    vec_path
                )
                staged_cells = {
                    int(r["cell"])
                    for r in staged.select("cell").distinct().collect()
                }
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
        # dynamic overwrite only touches partitions present in the
        # written frame — cells whose every vector was deleted must be
        # dropped explicitly (incl. the all-cells-emptied case where
        # the stage holds no partition dirs at all)
        for c in cells:
            if c not in staged_cells:
                _shutil.rmtree(
                    _os.path.join(vec_path, f"cell={c}"), ignore_errors=True
                )
        _shutil.rmtree(tmp, ignore_errors=True)
    n_new = int(st["n_vectors"]) - n_del
    referenced = [
        int(mm.group(1))
        for v in cat.mappings().values()
        if (mm := _re.search(r"\.g(\d+)$", v))
    ]
    gen = max([*referenced, 0]) + 1
    stats_phys = f"ann_stats.g{gen}"
    _ann_stats_frame(
        spark, n_new, int(st["dims"]), bool(st["trained"]),
        int(st["max_vec_id"]),
    ).write.mode("overwrite").parquet(_os.path.join(out_root, stats_phys))
    tomb_phys = f"{ANN_TOMBSTONES}.g{gen}"
    cat.write(local_frame(spark, {"vec_id": []}, "vec_id long"), tomb_phys)
    for o in cat.publish({"ann_stats": stats_phys, ANN_TOMBSTONES: tomb_phys}):
        _shutil.rmtree(o, ignore_errors=True)
    return {"n_purged": n_del, "n_vectors": n_new, "cells_rewritten": len(cells)}


def ann_topk_stored(
    spark,
    out_root: str,
    query_vec_id: int | None = None,
    query_vec: list[float] | None = None,
    k: int = 10,
    n_probes: int = 1,
    probe_all: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Serve top-k cosine from the STORED ANN index: resolve the probe
    cells driver-side (O(cells) for trained, O(1) for the grid), scan
    ONLY those partitions (``cell IN`` prunes directories — pinned in
    tests/test_ann_stored.py), exact-rerank the probed vectors.

    The query is a literal ``query_vec`` (the serving case: queries
    are not in the table) or a ``query_vec_id`` present in the stored
    index (the gate/bench case — that id is excluded from results,
    matching :func:`cosine_topk`)."""
    from invertedindexbuilder_spark.catalog import Catalog

    if (query_vec is None) == (query_vec_id is None):
        raise ValueError("pass exactly one of query_vec / query_vec_id")
    cat = Catalog(spark, out_root)
    st = cat.read("ann_stats").collect()[0].asDict()
    vecs = cat.read("ann_vectors")
    tomb = load_ann_tombstones(spark, out_root)
    if tomb is not None:
        # logical deletions (delete_ann_vectors): excluded everywhere —
        # results AND the query-anchor lookup, so a deleted vector can
        # neither surface nor be queried by id
        vecs = vecs.join(
            F.broadcast(tomb.select("vec_id")), "vec_id", "left_anti"
        )

    if query_vec is None:
        qrow = vecs.filter(F.col(id_col) == query_vec_id).select(
            vec_col
        ).collect()
        if not qrow:
            raise ValueError(f"query_vec_id {query_vec_id} not in index")
        query_vec = [float(x) for x in qrow[0][0]]

    if not probe_all:
        if bool(st["trained"]):
            cents = [
                list(r["centroid"])
                for r in cat.read("ann_centroids").orderBy("cell").collect()
            ]
            d = [
                sum((a - b) * (a - b) for a, b in zip(query_vec, c, strict=True))
                for c in cents
            ]
            probes = sorted(range(len(cents)), key=lambda j: (d[j], j))[
                : max(1, n_probes)
            ]
        else:
            dims = int(st["dims"])
            qcell = sum(
                (1 << d) for d in range(dims) if query_vec[d] > 0
            )
            probes = probe_ring(qcell, dims, n_probes)
        vecs = vecs.filter(F.col("cell").isin([int(p) for p in probes]))

    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = vecs.select(
        F.col(id_col),
        F.round(
            dot_expr(F.col(vec_col), qlit)
            / (norm_expr(F.col(vec_col)) * norm_expr(qlit)),
            round_digits,
        ).alias("cosine"),
    )
    if query_vec_id is not None:
        scored = scored.filter(F.col(id_col) != query_vec_id)
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)
