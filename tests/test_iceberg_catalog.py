"""Iceberg backend coverage, honestly scoped: this sandbox has no
Iceberg runtime jar (verified: `find / -name '*iceberg*'` is empty and
pyspark 4.1.2 bundles none), so the real engine path CANNOT execute
here — test_real_iceberg_build_compact documents that as a skip.  The
catalog's Iceberg ROUTING (mode -> append vs createOrReplace,
partitionedBy, bucket transform) is still executed via a recording
stub, so a refactor that breaks e.g. compaction's docs-append mode on
the Iceberg branch fails CI even without the jar."""

from __future__ import annotations

import glob
import os

import pyspark
import pytest

from invertedindexbuilder_spark.catalog import Catalog

_JARS = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "*"))
HAS_ICEBERG = any("iceberg" in os.path.basename(j).lower() for j in _JARS)


class _RecordingWriter:
    def __init__(self, log, table):
        self.log = log
        self.table = table
        self.partitions = None

    def partitionedBy(self, *cols):
        self.partitions = cols
        return self

    def append(self):
        self.log.append((self.table, "append", self.partitions))

    def createOrReplace(self):
        self.log.append((self.table, "createOrReplace", self.partitions))


def test_iceberg_branch_routes_write_modes(spark, monkeypatch, tmp_path):
    log: list = []
    monkeypatch.setenv("ICEBERG_CATALOG", "ice")
    cat = Catalog(spark, str(tmp_path))
    assert cat.iceberg == "ice"
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    # patch the concrete class (Spark 4: instances are
    # pyspark.sql.classic.DataFrame, which shadows the parent method)
    monkeypatch.setattr(
        type(df), "writeTo", lambda self, t: _RecordingWriter(log, t), raising=True
    )

    cat.write(df, "docs", mode="append")  # compaction's docs append
    cat.write(df, "index_chunks")  # index rewrite: snapshot replace
    cat.write(df, "events", partition_by=["doc_id"])
    assert log[0] == ("ice.docs", "append", None)
    assert log[1] == ("ice.index_chunks", "createOrReplace", None)
    assert log[2][0:2] == ("ice.events", "createOrReplace")
    assert log[2][2] is not None and len(log[2][2]) == 1

    # bucketed write routes through the bucket partition transform
    cat.write_bucketed(df, "docs", "doc_id", 16)
    assert log[3][0:2] == ("ice.docs", "createOrReplace")
    assert log[3][2] is not None


@pytest.mark.skipif(
    not HAS_ICEBERG,
    reason="no Iceberg runtime jar in this sandbox (pyspark 4.1.2 bundles "
    "none, no network to fetch one; re-verified r5: filesystem find for "
    "*iceberg* empty, maven central DNS-unresolvable) — the parquet "
    "backend is the tested default per SURVEY §1.3; this test runs "
    "wherever the jar exists",
)
def test_real_iceberg_build_compact(tmp_path):
    from pyspark.sql import SparkSession

    from invertedindexbuilder_spark.plans.build import build, compact, load_stats
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    wh = str(tmp_path / "warehouse")
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", wh)
        .getOrCreate()
    )
    os.environ["ICEBERG_CATALOG"] = "ice"
    try:
        root = str(tmp_path / "idx")
        build(spark, synthetic_docs_src(spark, 200), root)
        compact(spark, synthetic_docs_src(spark, 50, start=200), root)
        assert load_stats(spark, root)["n_docs"] == 250
    finally:
        os.environ.pop("ICEBERG_CATALOG", None)
        spark.stop()
