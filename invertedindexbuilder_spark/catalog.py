"""Thin table catalog: Iceberg when configured, partitioned parquet
otherwise (SURVEY §1.3).

The engine's input contract is an Iceberg table of source files; this
sandbox has no Iceberg runtime jar (verified: pyspark 4.1.2 bundles
none), so the default backend is parquet with identical schemas and the
same call sites.  Setting ``ICEBERG_CATALOG=<catalog name>`` (with the
matching ``spark.sql.catalog.*`` configs + runtime jar on the cluster)
switches every read/write to Iceberg SQL with no code changes.

Generations (parquet backend): a table's PHYSICAL directory may be a
generation dir (``index_chunks.g3``) recorded in ``tables.json`` at the
root.  ``publish()`` rewrites that one file with ``os.replace`` — an
atomic multi-table pointer flip, so a compaction can swap
``index_chunks`` and ``stats`` together and a reader resolving through
the catalog sees either the old generation of BOTH or the new
generation of BOTH, never a mix (the Iceberg backend gets per-table
snapshot atomicity from createOrReplace instead, and needs no pointer
file).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from invertedindexbuilder_spark.schemas import TABLE_SCHEMAS

_POINTER_FILE = "tables.json"


def resolve_table_path(root: str, name: str) -> str:
    """Physical path of logical table ``name`` under ``root`` —
    standalone (no SparkSession) so driver-local readers
    (operators/local_query.LocalIndex) resolve identically."""
    ptr = os.path.join(root, _POINTER_FILE)
    if os.path.exists(ptr):
        with open(ptr) as f:
            mapping = json.load(f)
        if name in mapping:
            return os.path.join(root, mapping[name])
    return os.path.join(root, name)


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = os.environ.get("ICEBERG_CATALOG")

    def path(self, name: str) -> str:
        return resolve_table_path(self.root, name)

    def mappings(self) -> dict[str, str]:
        """Current logical-name -> physical-dir pointer map (parquet
        backend; empty when no generation has ever been published)."""
        ptr = os.path.join(self.root, _POINTER_FILE)
        if os.path.exists(ptr):
            with open(ptr) as f:
                return json.load(f)
        return {}

    def publish(self, mapping: dict[str, str]) -> list[str]:
        """Atomically repoint logical names to new physical dirs (one
        ``os.replace`` of tables.json covers every entry).  Returns the
        now-orphaned previous physical paths (for best-effort cleanup
        AFTER the flip — a crash between flip and cleanup leaves only
        unreferenced garbage, never an inconsistent view)."""
        ptr = os.path.join(self.root, _POINTER_FILE)
        current: dict[str, str] = {}
        if os.path.exists(ptr):
            with open(ptr) as f:
                current = json.load(f)
        orphans = []
        for name, phys in mapping.items():
            old = current.get(name, name)
            if old != phys:
                old_path = os.path.join(self.root, old)
                if os.path.exists(old_path):
                    orphans.append(old_path)
            current[name] = phys
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            json.dump(current, f, indent=2, sort_keys=True)
        os.replace(tmp, ptr)
        return orphans

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        row_group_bytes: int | None = None,
    ) -> None:
        """``row_group_bytes``: parquet row-group size for THIS table
        (parquet backend).  Payload-heavy tables (index chunks) use a
        small value: the row group is both the scan-split floor (a
        128 MB default turns a term-clustered heavy-term region into a
        handful of fat skewed decode tasks) and the stats-pruning
        granule (smaller groups = tighter term min/max = fewer bytes
        read per probe)."""
        if self.iceberg:
            writer = df.writeTo(f"{self.iceberg}.{name}")
            if partition_by:
                from pyspark.sql import functions as F

                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            # honor the mode: compaction APPENDS to the docs table —
            # createOrReplace here would silently drop the old corpus
            if mode == "append":
                writer.append()
            else:
                writer.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if row_group_bytes:
            w = w.option("parquet.block.size", int(row_group_bytes))
        w.parquet(self.path(name))

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str = "doc_id",
        n_buckets: int = 32,
    ) -> None:
        """Write a table BUCKETED by ``bucket_col`` (hash-clustered
        files + catalog metadata).  A join keyed on the bucket column
        then shuffles only the other side — for the docs table this
        removes the doc_len-join exchange from every query's scoring
        stage (pinned in tests/test_plan_shape.py).  Bucketing metadata
        needs a catalog table, so this goes through saveAsTable with an
        explicit external path under the root (parquet backend) or an
        Iceberg bucket partition transform."""
        if self.iceberg:
            from pyspark.sql import functions as F

            df.writeTo(f"{self.iceberg}.{name}").partitionedBy(
                F.bucket(n_buckets, bucket_col)
            ).createOrReplace()
            return
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", self.path(name))
            .format("parquet")
            .saveAsTable(name)
        )

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a write_bucketed table WITH its bucketing metadata
        (spark.read.parquet on the path would lose it)."""
        if self.iceberg:
            return self.spark.read.table(f"{self.iceberg}.{name}")
        return self.spark.table(name)

    def read(self, name: str) -> DataFrame:
        """Logical table ``name``, or one generation dir of it
        (``index_chunks.g3``).  The engine's own tables are read with
        their declared schema (schemas.TABLE_SCHEMAS): no footer-
        inference job, and a column an older table lacks reads as
        null."""
        if self.iceberg:
            return self.spark.read.table(f"{self.iceberg}.{name}")
        reader = self.spark.read
        schema = TABLE_SCHEMAS.get(re.sub(r"\.g\d+$", "", name))
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"{self.iceberg}.{name}")
        p = self.path(name)
        return os.path.exists(os.path.join(p, "_SUCCESS")) or (
            os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p))
        )
