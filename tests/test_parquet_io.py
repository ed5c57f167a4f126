"""Schema reuse of ``sources.parquet_io``: ``read_table`` resolves a
table's schema once per session and file stamp."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from realtime_banking_cdc_pipeline_spark.sources.parquet_io import read_table


def _write(tmp_path, name, columns):
    pq.write_table(pa.table(columns), str(tmp_path / f"{name}.parquet"))


def test_read_table_resolves_a_schema_once(spark, tmp_path, jobs_run_by):
    _write(tmp_path, "t", {"k": pa.array([1, 2, 3], pa.int64())})
    first, n_first = jobs_run_by(lambda: read_table(spark, str(tmp_path), "t"))
    again, n_again = jobs_run_by(lambda: read_table(spark, str(tmp_path), "t"))
    assert n_first >= 1 and n_again == 0
    assert again.schema == first.schema
    assert sorted(r["k"] for r in again.collect()) == [1, 2, 3]


def test_read_table_sees_a_rewrite_with_another_schema(spark, tmp_path, jobs_run_by):
    _write(tmp_path, "t", {"k": pa.array([1, 2], pa.int64())})
    read_table(spark, str(tmp_path), "t")
    read_table(spark, str(tmp_path), "t")
    _write(tmp_path, "t", {"k": pa.array([7], pa.int32()), "v": pa.array(["x"])})
    df = read_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("k", "int"), ("v", "string")]
    assert [tuple(r) for r in df.collect()] == [(7, "x")]
    again, n = jobs_run_by(lambda: read_table(spark, str(tmp_path), "t"))
    assert n == 0 and again.dtypes == df.dtypes


def test_read_table_self_join_on_two_keys(spark, tmp_path, jobs_run_by):
    """Two reads of one table are two relations (fresh attribute ids), so
    a self-join on two key columns resolves as it does without reuse."""
    _write(
        tmp_path,
        "t",
        {
            "a": pa.array([1, 1, 2, 2], pa.int64()),
            "b": pa.array([1, 2, 1, 1], pa.int64()),
            "v": pa.array([10, 20, 30, 40], pa.int64()),
        },
    )
    read_table(spark, str(tmp_path), "t")

    def build():
        left = read_table(spark, str(tmp_path), "t")
        right = read_table(spark, str(tmp_path), "t").withColumnRenamed("v", "w")
        return left.join(right, ["a", "b"])

    joined, n = jobs_run_by(build)
    assert n == 0
    got = sorted(tuple(r) for r in joined.select("a", "b", "v", "w").collect())
    assert got == [
        (1, 1, 10, 10), (1, 2, 20, 20),
        (2, 1, 30, 30), (2, 1, 30, 40), (2, 1, 40, 30), (2, 1, 40, 40),
    ]
