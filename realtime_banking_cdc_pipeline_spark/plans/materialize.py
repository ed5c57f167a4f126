"""Incremental materialization (C5 in SURVEY.md §2.7): dbt's
``materialized='incremental'`` mapped to Spark — anti-join ⊎ batch merge
on a unique key, persisted through the staged swap
(``fact_transactions.sql:1``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental import incremental_merge
from ..sources.parquet_io import recover_swap, write_staged


def materialize_incremental(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    unique_key: str,
) -> DataFrame:
    """First run CTAS, then merge-on-unique-key — dbt incremental
    semantics on plain parquet (idempotent under redelivery), written
    through ``write_staged``. A swap interrupted by a crash is repaired
    first, so the merge never restarts from an empty target."""
    target = None
    if recover_swap(spark, path) != "missing":
        target = spark.read.parquet(path)
    merged = incremental_merge(target, batch, unique_key)
    write_staged(merged, path)
    return spark.read.parquet(path)
