"""Incremental materialization (C5 in SURVEY.md §2.7): dbt's
``materialized='incremental'`` mapped to Spark — the keyed union ⊎
dedup merge of ``incremental_merge`` on a unique key, read with
``read_staged`` and committed with ``write_staged``
(``fact_transactions.sql:1``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental import incremental_merge
from ..sources.parquet_io import read_staged, write_staged


def materialize_incremental(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    unique_key: str,
) -> None:
    """First run CTAS, then merge-on-unique-key — dbt incremental
    semantics on plain parquet (idempotent under redelivery). The
    target is rewritten by a staged commit, so a crash mid-write
    leaves the old or the new table, never an empty one. Returns
    nothing: read ``path`` back to query the table."""
    merged = incremental_merge(read_staged(spark, path)[""], batch, unique_key)
    write_staged(path, {"": merged})
