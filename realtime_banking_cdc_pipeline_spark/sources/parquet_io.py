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

import functools
import json
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# session -> {path: ((file stamp, *inference confs), resolved schema)}
_schemas: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md layout).

    Inferring a parquet schema runs a Spark job (~70 ms a table), and a
    query build reads several tables, so the session remembers each
    resolved schema, keyed on the path, a stamp of its files (size and
    mtime) and the confs inference depends on. A repeat read passes the
    schema back (``spark.read.schema(s)``): no job, and a fresh relation
    with fresh attribute ids, so a table joined with itself stays
    unambiguous, as it would not with a memoized DataFrame."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (_file_stamp(spark, path), *(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    known = _schemas.setdefault(spark, {})
    if path in known and known[path][0] == key:
        return spark.read.schema(known[path][1]).parquet(path)
    df = spark.read.parquet(path)
    known[path] = (key, df.schema)
    return df


def _file_stamp(spark: SparkSession, path: str) -> tuple:
    """(name, size, mtime) of every file under ``path``: a rewrite of the
    table changes it. (``listStatus``, not ``listFiles``: on the local
    file system the latter also loads each file's permissions.)"""
    fs, hpath = _fs(spark, path)
    out, todo = [], [hpath]
    while todo:
        for st in fs.listStatus(todo.pop()):
            if st.isDirectory():
                todo.append(st.getPath())
            else:
                out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet sink (reference S5: ``{table}/date=.../*.parquet``).

    ``maxRecordsPerFile`` bounds file size so a 100 TB table does not
    produce multi-GB row groups; partition columns drive pruning at read
    time exactly like the reference's Snowflake clustering keys
    (readme.md:134-140).
    """
    w = df.write.mode("overwrite")
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
    dominate scans and executors starve on tiny splits). The table is
    read with ``read_staged`` (so a committed, unpromoted rewrite is
    finished rather than dropped) and rewritten with ``write_staged``,
    because the read and the rewrite share ``path``. Returns the
    resulting file count. On Delta/Iceberg this is OPTIMIZE; here it is
    the same operation on plain parquet."""
    df = read_staged(spark, path)[""]
    n = df.count()
    files = max(1, -(-n // target_records_per_file))
    write_staged(path, {"": df.repartition(files)})
    return files


# py4j gateway -> {JVM class name: class}
_classes: "weakref.WeakKeyDictionary[object, dict]" = weakref.WeakKeyDictionary()


def _jclass(spark: SparkSession, name: str):
    """The JVM class ``name``, resolved once per py4j gateway:
    ``spark._jvm.org.apache.hadoop.fs.Path`` costs one round trip per
    package segment each time it is spelled out."""
    classes = _classes.setdefault(spark.sparkContext._gateway, {})
    if name not in classes:
        classes[name] = functools.reduce(getattr, name.split("."), spark._jvm)
    return classes[name]


def _fs(spark: SparkSession, path: str, *more: str):
    """The Hadoop FileSystem of ``path``, then the Hadoop Paths of
    ``path`` and each of ``more``."""
    Path = _jclass(spark, "org.apache.hadoop.fs.Path")
    hpaths = [Path(p) for p in (path, *more)]
    return (hpaths[0].getFileSystem(spark._jsc.hadoopConfiguration()), *hpaths)


def write_staged(path: str, tables: dict[str, DataFrame]) -> None:
    """The one way durable tables are (re)written: commit ``tables`` as
    one unit. Each frame is written to ``<path>__staging/<name>`` (the
    name ``""`` is the staging dir itself: one flat table); after the
    last write ``<path>__staging/_SUCCESS`` marks the set committed (it
    holds each table's schema as JSON, for ``read_staged``), and
    only then is ``path`` deleted and the staging dir renamed to it.
    Frames whose lineage READS ``path`` are therefore safe in any order,
    and a crash leaves the old set or a committed new one
    (``recover_swap``), never a mix. Renames are atomic metadata ops on
    HDFS/local/ABFS; on S3 "rename" is copy+delete, so there a
    transactional table format (Delta/Iceberg) is the real answer."""
    if not tables:
        return
    spark = next(iter(tables.values())).sparkSession
    staging = path.rstrip("/") + "__staging"
    fs, hstaging, hmarker, hpath = _fs(spark, staging, staging + "/_SUCCESS", path)
    fs.delete(hstaging, True)  # the uncommitted leftover of a crashed write
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{staging}/{name}" if name else staging)
    marker = fs.create(hmarker, True)
    marker.write(json.dumps({n: df.schema.jsonValue() for n, df in tables.items()}).encode())
    marker.close()
    _recover(fs, hpath, hstaging, hmarker)  # promote the committed set


def read_staged(spark: SparkSession, path: str, *names: str) -> dict[str, DataFrame | None]:
    """The read side of ``write_staged``: finish or drop an interrupted
    write first, then read each table of ``names`` (none: the flat
    table ``path`` itself, under the name ``""``) from the committed
    set, None for a table never written. One repair and one marker read
    serve every table. A table the marker records is read with the
    schema it records, so the read runs no inference job; one it does
    not describe (an empty marker, as states committed before markers
    held schemas have) is inferred from its files, if it exists."""
    staging = path.rstrip("/") + "__staging"
    fs, hpath, hstaging, hstaged, hmarker = _fs(
        spark, path, staging, staging + "/_SUCCESS", f"{path}/_SUCCESS"
    )
    _recover(fs, hpath, hstaging, hstaged)
    schemas = _marker_schemas(spark, fs, hmarker)
    Path = _jclass(spark, "org.apache.hadoop.fs.Path")
    out = {}
    for name in names or ("",):
        table = f"{path}/{name}" if name else path
        if name in schemas:
            out[name] = spark.read.schema(schemas[name]).parquet(table)
        elif fs.exists(Path(table)):
            out[name] = spark.read.parquet(table)
        else:
            out[name] = None
    return out


def _marker_schemas(spark: SparkSession, fs, hmarker) -> dict[str, StructType]:
    """The table schemas a ``write_staged`` commit marker records."""
    if not fs.exists(hmarker):
        return {}
    stream = fs.open(hmarker)
    try:
        text = _jclass(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()
    if not text.strip():
        return {}
    return {n: StructType.fromJson(s) for n, s in json.loads(text).items()}


def recover_swap(spark: SparkSession, path: str) -> str:
    """Repair an interrupted ``write_staged``. Returns what happened:
    ``"promoted_staging"`` (the staging dir carries ``_SUCCESS``, so
    every table in it is complete: the promotion is finished, whatever
    is left of ``path``); otherwise any partial staging is dropped and
    the result is ``"intact"`` (``path`` present) or ``"missing"``.
    Idempotent — safe to call at every job start."""
    staging = path.rstrip("/") + "__staging"
    return _recover(*_fs(spark, path, staging, staging + "/_SUCCESS"))


def _recover(fs, hpath, hstaging, hmarker) -> str:
    """``recover_swap`` on resolved Hadoop paths: ``path``, its staging
    dir and the staging dir's ``_SUCCESS`` marker."""
    if fs.exists(hmarker):
        fs.delete(hpath, True)
        if not fs.rename(hstaging, hpath):
            raise IOError(f"could not promote {hstaging.toString()} to {hpath.toString()}")
        return "promoted_staging"
    fs.delete(hstaging, True)
    return "intact" if fs.exists(hpath) else "missing"


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
