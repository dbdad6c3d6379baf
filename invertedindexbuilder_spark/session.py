"""SparkSession factory with the engine's scale-oriented defaults, and
the one way the engine turns driver-held rows into a DataFrame."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "invertedindexbuilder-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    task_retries: int = 1,
) -> SparkSession:
    """Local-mode session for tests/bench.  On a real cluster the same
    configs apply; master/executors come from spark-submit instead.

    - AQE on (runtime coalesce + skew-join splitting),
    - Arrow on (all our UDFs are pandas/Arrow batched),
    - shuffle partitions sized to parallelism (overridable; at 100 TB
      this would be thousands and AQE coalesces the small ones).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Python WORKERS inherit sys.path from PYTHONPATH, not from the
    # driver's sys.path mutations — without this, any script run from a
    # cwd other than the repo root dies in the first pandas UDF with
    # "No module named 'invertedindexbuilder_spark'" (on a real cluster
    # spark-submit --py-files engine.zip plays this role).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    # Bare local[N] hard-codes maxFailures=1: ONE crashed python worker
    # (observed: a silent worker death in a 240-task 30M-doc build)
    # fails the whole job.  Long benches pass task_retries>1, matching
    # a real cluster's spark.task.maxFailures=4 default; tests keep the
    # fail-fast default so assertion errors surface on first failure.
    master = (
        f"local[{cores}]" if task_retries <= 1
        else f"local[{cores},{task_retries}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode split sizing: the defaults (128 MB splits / 64 MB
        # AQE advisory) coalesce small-corpus stages down to 1-3 tasks
        # and serialize the Python tokenize/encode work; 16 MB keeps all
        # cores busy.  On a real cluster with TB inputs the defaults
        # dominate anyway (these only LOWER granularity).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # a crashed worker otherwise dies silently ("exited
        # unexpectedly") — the fault handler dumps the python stack
        # into the executor log at negligible steady-state cost
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # the r7 disjunctive I/O prune pushes per-column In-lists of
        # surviving chunk first_doc_ids / candidate doc_ids.  Above
        # this threshold Spark degrades a pushed In to a [min, max]
        # range (prunes nothing for scattered ids); BELOW it parquet-mr
        # evaluates the In as a recursive Or chain, so a large value is
        # NOT safe — 25000 produced a StackOverflowError in executor
        # tasks at 30M docs.  1024 is deep enough for the pruning
        # regime (candidates ≲ chunk count) and shallow enough for the
        # recursive evaluator; query_exec's push caps stay below it.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, columns: dict, schema: str | T.StructType
) -> DataFrame:
    """Driver-held columns (name -> list or numpy array) as a local
    relation: one Arrow table the JVM holds in the plan
    (``LocalTableScan``), so building, scanning or writing it runs no
    Python task.  ``createDataFrame(list)`` goes through an RDD of
    pickled rows instead, one Python task per core, and a pandas frame
    falls back to that RDD when it is empty."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    table = pa.table(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
