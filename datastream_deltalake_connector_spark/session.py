"""SparkSession factory tuned for this engine.

The reference hardcodes ``master("local[1]")`` and Delta extensions
(reference: spark/src/main/scala/io/badal/databricks/jobs/
DatastreamDeltaStreamingJob.scala:25-32). We instead build a session sized by
``SPARK_GRAFT_CPUS`` with AQE + Arrow on, so the same code path is used for
tests (local[4]), bench (local[8] vs local[32] scaling evidence) and a real
multi-executor cluster (where ``master`` comes from spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """An empty DataFrame of ``schema`` that runs no tasks when collected.

    ``spark.createDataFrame([], schema)`` plans a LogicalRDD over a Python
    RDD with ``defaultParallelism`` partitions: every action on it (or on a
    union containing it) starts that many Python tasks for zero rows. An
    empty RDD has no partitions at all."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def get_spark(
    app_name: str = "datastream-spark-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so skewed shuffles re-plan at runtime; shuffle partitions
    default to the core count (small local data) — on a real cluster this
    would be ~2-3x total cores and AQE coalesces the rest.
    """
    cores = cores or default_parallelism()
    # Python workers inherit this env (local mode): without it every worker
    # spawns nproc BLAS threads for tiny numpy matmuls (phash DCT etc.) and
    # N workers × nproc threads thrash the box — scan throughput INVERTS
    # with core count. One BLAS thread per worker is strictly better here.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python data-source filter pushdown (sources/pyds.py: pushed
        # filters drive manifest/bloom/partition-transform file pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
