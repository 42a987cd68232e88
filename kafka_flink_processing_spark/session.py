"""SparkSession factory tuned for this engine.

Local testing runs on local[N] (single JVM); the configs below are chosen so
the same logical plans scale to a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session time zone (parquet testdata
is naive-UTC and the DuckDB oracle is UTC-naive), Arrow for every
pandas-UDF boundary.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# On a real cluster these come from spark-submit; the env vars are the local
# test harness knobs (driver sets SPARK_GRAFT_CPUS for bench).
_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "kafka_flink_processing_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    shuffle_partitions defaults to the core count locally; on a 1000-executor
    cluster you would size it to ~2-3x total cores instead (or let AQE
    coalesce from a higher initial number).
    """
    # Python workers run the driver's interpreter (Spark's own fallback is
    # `python3` from PATH, which can differ in a venv launch). pyspark
    # reads it when it creates the SparkContext, so set it before that.
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{_CPUS}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12: let AQE re-plan (and in particular coalesce) CACHED plans.
        # The iterative operators (BPE trainer, connected-components label
        # propagation, the ccnet score relation) persist small relations
        # and then launch many jobs over them; with the default `false`
        # the cache materializes at the session shuffle width (one task
        # per shuffle partition PER ITERATION even for a few-KB vocab),
        # while `true` sizes the cached relation to its DATA — the same
        # scale-adaptive partitioning AQE already applies everywhere
        # else. Scale-neutral: big cached relations keep their width.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode scan parallelism: the testdata is single ~10MB files,
        # which the default 128MB split turns into ONE scan task on a 32-core
        # box. On a cluster (many multi-GB files) keep the default.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
        .config("spark.sql.files.openCostInBytes", "1m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
