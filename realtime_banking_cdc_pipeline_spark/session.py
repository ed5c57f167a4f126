"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), UTC session timezone (the reference pipeline is
TIMESTAMPTZ end-to-end; see SURVEY.md §1.2), Arrow for any pandas
exchange, and shuffle parallelism sized to cores rather than the
200-partition default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "realtime_banking_cdc_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is safe to carry to cluster mode unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Large-batch Arrow transfer for the few pandas-UDF paths.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # Spark keeps at most this many compiled classes (default 100).
        # One streaming-pipeline micro-batch compiles ~230, so with the
        # default a repeat of the same batch recompiled all ~230, and a
        # repeated pass of the registry queries recompiled its classes
        # too; with 4000 entries the repeats reuse them. On a 4-core host
        # the repeated two-batch pipeline took 12.8 s instead of 15.0 s.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
