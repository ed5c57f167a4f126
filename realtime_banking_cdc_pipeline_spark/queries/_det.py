"""Cross-engine determinism helpers.

Double summation is order-dependent, and Spark and DuckDB will not
aggregate partitions in the same order — so every measure sum routes
through exact DECIMAL arithmetic and is cast to DOUBLE at the very end.
Decimal adds/multiplies are exact in both engines as long as precision
fits, so the final doubles are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def events_table(spark, sf_dir: str):
    """events with ``ts`` normalized to TimestampType.

    The testdata parquet stores ns-precision timestamps, which Spark's
    parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). Reading them as
    raw ns longs (``nanosAsLong``) and converting to µs is exact for
    this data (the driver generates µs-granular values; DuckDB's
    TIMESTAMP oracle view truncates to µs identically). The setting is
    undone once the schema is resolved, so it does not leak into the
    session's later parquet reads.
    """
    from pyspark.sql import functions as F  # noqa: F811
    from ..sources.parquet_io import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        ev = read_table(spark, sf_dir, "events")
        ts_type = dict(ev.dtypes)["ts"]
    finally:
        spark.conf.unset(key)
        if prior is not None:
            spark.conf.set(key, prior)
    if ts_type == "bigint":
        # integer div — `/` would go through double and lose ns precision
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def dec(c: str | Column, p: int = 18, s: int = 2) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


def dsum(expr: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as double."""
    return F.sum(expr).cast("double").alias(alias)


def dsum_r2(expr: Column, alias: str) -> Column:
    """Exact decimal sum ROUNDED to scale 2 before the double cast.

    Needed when the summed expression carries scale > 2 (decimal
    products accumulate scale): once the sum's unscaled integer exceeds
    2^53, decimal→double conversion is engine-dependent — Java's
    BigDecimal rounds once (correctly), DuckDB's int128 path can
    double-round, and the results differ by 1 ULP (observed on
    q01.sum_charge at sf1). Rounding the exact sum to scale 2 first
    keeps the unscaled value exact in a double for ~100× more headroom,
    and both engines round the identical exact decimal identically."""
    return F.round(F.sum(expr), 2).cast("double").alias(alias)


# SQL fragment mirrors (DuckDB side) -------------------------------------

def sql_dec(c: str, p: int = 18, s: int = 2) -> str:
    return f"CAST({c} AS DECIMAL({p},{s}))"


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


def sql_dsum_r2(expr: str, alias: str) -> str:
    """SQL twin of ``dsum_r2``."""
    return f"CAST(ROUND(SUM({expr}), 2) AS DOUBLE) AS {alias}"
