"""Columnar parquet IO.

The reference stages Bronze as hive-partitioned parquet on object
storage (``consumer/kafka_to_minio.py:41-51``) and bulk-loads with
``COPY INTO ... ON_ERROR='CONTINUE'``
(``docker/dags/minio_to_snowflake_dag.py:73-84``). Spark reads the same
layout natively with partition discovery, predicate pushdown and
vectorized decoding; error-tolerant load maps to PERMISSIVE mode with a
corrupt-record quarantine column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md layout)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet sink (reference S5: ``{table}/date=.../*.parquet``).

    ``maxRecordsPerFile`` bounds file size so a 100 TB table does not
    produce multi-GB row groups; partition columns drive pruning at read
    time exactly like the reference's Snowflake clustering keys
    (readme.md:134-140).
    """
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def compact_parquet(
    spark: SparkSession, path: str, target_records_per_file: int = 1_000_000
) -> int:
    """Rewrite a parquet table into ⌈rows / target⌉ evenly-sized files —
    the maintenance pass every incremental sink needs (per-batch appends
    accumulate small files; small files mean per-file open/footer costs
    dominate scans and executors starve on tiny splits). The read and
    the rewrite share ``path``, so it goes through ``write_staged``.
    Returns the resulting file count. On Delta/Iceberg this is
    OPTIMIZE; here it is the same operation on plain parquet."""
    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, -(-n // target_records_per_file))
    write_staged(df.repartition(files), path)
    return files


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_staged(df: DataFrame, path: str) -> None:
    """The one way a durable table is (re)written: write ``df`` to
    ``<path>__staging``, then promote it with ``swap_into_place``. A
    frame whose lineage READS ``path`` cannot overwrite it in place,
    and an in-place overwrite truncates the target if it crashes."""
    staging = path.rstrip("/") + "__staging"
    df.write.mode("overwrite").parquet(staging)
    swap_into_place(df.sparkSession, staging, path)


def swap_into_place(spark: SparkSession, staging: str, path: str) -> None:
    """Promote a fully-written ``staging`` dir to ``path`` via two
    renames, keeping the previous table as ``<path>__old`` until the
    new one is in place — replaces the overwrite-in-place rewrite whose
    crash window TRUNCATED the target (r2 advisor finding).

    Crash matrix: before the first rename the old table is untouched;
    between the renames the path is briefly absent but BOTH copies
    exist on disk; after the second rename the swap is durable and
    ``__old`` is garbage. ``recover_swap`` repairs every intermediate
    state. Renames are atomic metadata ops on HDFS/local/ABFS; on S3
    "rename" is copy+delete, so there a transactional table format
    (Delta/Iceberg) is the real answer."""
    fs, hstaging = _fs(spark, staging)
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hold = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    fs.delete(hold, True)
    had_old = fs.exists(hpath)
    if had_old and not fs.rename(hpath, hold):
        raise IOError(f"swap: could not retire {path}")
    if not fs.rename(hstaging, hpath):
        # put the old table back rather than leaving the path empty
        if had_old:
            fs.rename(hold, hpath)
        raise IOError(f"swap: could not promote {staging} to {path}")
    fs.delete(hold, True)


def read_staged(spark: SparkSession, path: str) -> DataFrame | None:
    """The read side of ``write_staged``: repair an interrupted swap
    first, so a crash mid-write never reads as an absent table; None
    when nothing was ever written."""
    if recover_swap(spark, path) == "missing":
        return None
    return spark.read.parquet(path)


def recover_swap(spark: SparkSession, path: str) -> str:
    """Repair an interrupted ``swap_into_place``. Returns what happened:
    ``"intact"`` (target present — leftover staging/old cleaned),
    ``"promoted_staging"`` (crash between renames; the NEW data was
    complete, promote it), ``"restored_old"`` (staging incomplete or
    missing; old table restored), or ``"missing"`` (nothing to recover).
    Idempotent — safe to call at every job start."""
    fs, hpath = _fs(spark, path)
    hstaging = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__staging")
    hold = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(hpath):
        fs.delete(hstaging, True)
        fs.delete(hold, True)
        return "intact"
    # a staging dir is only promotable if its write COMMITTED (_SUCCESS)
    hsuccess = spark._jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "__staging/_SUCCESS"
    )
    if fs.exists(hstaging) and fs.exists(hsuccess):
        fs.rename(hstaging, hpath)
        fs.delete(hold, True)
        return "promoted_staging"
    if fs.exists(hold):
        fs.rename(hold, hpath)
        fs.delete(hstaging, True)
        return "restored_old"
    return "missing"


def read_csv_tolerant(
    spark: SparkSession, path: str, schema, header: bool = True
) -> DataFrame:
    """PERMISSIVE CSV read with corrupt-record quarantine — the Spark
    equivalent of ``ON_ERROR='CONTINUE'`` (minio_to_snowflake_dag.py:81)
    for delimited landings. Malformed rows surface in
    ``_corrupt_record`` instead of failing the load."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
