"""Deterministic doc_id assignment without a global bottleneck (SURVEY §7.3).

The reference assigns doc_id = input-file order (main.c:124).  Our
corpus is a table, so the canonical total order is ``ORDER BY repo,
path, commit`` (FIXTURES.md §1) and ``doc_id`` is the 0-based global
rank in that order.

Because (repo, path, commit) is a UNIQUE key, the global rank is a
pure function of the data — independent of partition count, executor
count, or range-partitioner sampling — which is what makes doc_ids
stable between the N and 4N cluster runs (scaling criterion) and
between re-runs (resumability).

Implementation: one range-repartition shuffle on the sort key, a tiny
per-partition count aggregation, driver-side prefix sums, then a
narrow JVM projection adding ``offset[pid] + local_rank``.  This
avoids the classic ``row_number() OVER ()`` single-partition trap, and
no Python task runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

SORT_KEYS = ["repo", "path", "commit"]


class CacheScope:
    """Holder for the range-shuffle persists created by ONE id
    assignment.  The persist is a CORRECTNESS guard, not just perf: the
    per-partition counts and the final rank pass must see the same
    range-partitioner boundaries (re-sampling could move them), so it
    may only be dropped after the caller materializes the id-bearing
    output — call :meth:`release` then.  Scoped per assignment, NOT a
    module global: concurrent builds in one session must not release
    each other's caches, and an abandoned scope is garbage-collected
    with its frames (letting Spark's ContextCleaner reclaim storage)."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def add(self, df: DataFrame) -> None:
        self._frames.append(df)

    def release(self) -> None:
        while self._frames:
            self._frames.pop().unpersist()


def doc_id_map(
    df: DataFrame,
    sort_keys: list[str] | None = None,
    num_partitions: int | None = None,
    cache_scope: CacheScope | None = None,
) -> tuple[DataFrame, int]:
    """(keys + doc_id) mapping table and the total row count.

    Operates on the KEY COLUMNS ONLY — the wide content column never
    enters the range shuffle or the persist (persisting the full corpus
    was measured as the docs-phase scaling bottleneck).  The caller
    joins the mapping back: broadcast when it fits, sort-merge
    otherwise (``attach_doc_ids``).  Pass a :class:`CacheScope` to
    release the internal persist after materializing the output.
    """
    sort_keys = sort_keys or SORT_KEYS
    # persist the key projection BEFORE the range shuffle (r8): the
    # range partitioner runs a separate reservoir-sampling job over the
    # child plan for its boundaries, so an unpersisted child EXECUTES
    # TWICE (boundary sample + the shuffle itself) — for an opaque
    # source (a generator, a mapInArrow ingest transform, a filtered
    # scan) that is a full second pass over every input row.  Keys
    # only, same size class as _assign's post-shuffle persist; released
    # through the same CacheScope.
    keys = df.select(*sort_keys).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_scope is not None:
        cache_scope.add(keys)
    ids, total = _assign(keys, sort_keys, num_partitions, cache_scope)
    return ids, total


def attach_doc_ids(
    df: DataFrame,
    ids: DataFrame,
    total: int,
    sort_keys: list[str] | None = None,
    broadcast_bytes_limit: int = 512 << 20,
    avg_row_bytes: float = 128.0,
) -> DataFrame:
    """Join the id map back onto the full table.  Broadcast while the
    map fits driver/executor memory; beyond that — 10^12-file scale —
    a sort-merge join on the unique key, which AQE plans from the same
    expression.

    The broadcast decision is BYTE-sized, not row-counted (the r5
    federated 10M-doc shard build OOMed the 8 GB driver through the
    old 20M-ROW limit: (repo, path, commit, doc_id) rows are ~100 B
    serialized and several hundred bytes as a JVM hash relation, so
    20M rows was a multi-GB broadcast that passed the row check —
    the exact failure mode ADVICE r4 flagged for the curation counts
    join).  est = total x ``avg_row_bytes`` (key bytes + per-entry
    hash-relation overhead, deliberately conservative) against
    ``broadcast_bytes_limit`` (default 512 MB -> ~4M rows): an
    underestimate OOMs the driver, an overestimate merely shuffles."""
    sort_keys = sort_keys or SORT_KEYS
    if 0 <= total * avg_row_bytes <= broadcast_bytes_limit:
        ids = F.broadcast(ids)
    return df.join(ids, on=sort_keys)


def assign_doc_ids(
    df: DataFrame,
    sort_keys: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a ``doc_id`` column = global 0-based rank over ``sort_keys``.

    NOTE: feeds the whole frame through the range shuffle + persist;
    for wide tables prefer doc_id_map + attach_doc_ids."""
    return _assign(df, sort_keys or SORT_KEYS, num_partitions)[0]


def _assign(
    df: DataFrame,
    sort_keys: list[str],
    num_partitions: int | None = None,
    cache_scope: CacheScope | None = None,
) -> tuple[DataFrame, int]:
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    ranged = (
        df.repartitionByRange(num_partitions, *[F.col(k) for k in sort_keys])
        .sortWithinPartitions(*sort_keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_scope is not None:
        cache_scope.add(ranged)
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    # RangePartitioner orders partitions by key range, so prefix sums over
    # pid give each partition's starting global rank.
    offsets = []
    acc = 0
    for pid in range(num_partitions):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    # local rank = the row's position in its sorted partition:
    # monotonically_increasing_id() is (partition index << 33) + row
    # position, and the projection is narrow over the persisted ranged
    # partitions, so its partition index is the _pid they were counted
    # under
    local_rank = F.monotonically_increasing_id() - F.shiftleft(
        F.spark_partition_id().cast("long"), 33
    )
    doc_id = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]), F.col("_pid") + 1
    ) + local_rank
    result = ranged.select(*df.columns, doc_id.cast("long").alias("doc_id"))
    return result, acc
