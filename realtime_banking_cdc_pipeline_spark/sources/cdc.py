"""Debezium CDC envelope normalization (S1-S4/P3/P4 in SURVEY.md §2.1-2.2).

The reference's consumer reads schemaless-JSON Debezium events and keeps
only ``payload.after`` (``consumer/kafka_to_minio.py:63-71``), which
silently drops deletes (op=d has after=null) — inserts and updates both
land as new Bronze rows. The engine supports both that compat mode and
a correct delete-propagating mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import debezium_envelope_schema


def parse_envelope(raw: DataFrame, table: str, value_col: str = "value") -> DataFrame:
    """Parse Kafka-framed envelope JSON into typed columns.

    Input: rows with a JSON string ``value_col`` (FIXTURES.md §2 framing).
    Output: ``before`` / ``after`` structs + ``op`` / ``ts_ms`` / ``lsn``.
    Corrupt payloads parse to null structs (PERMISSIVE), mirroring
    ``ON_ERROR='CONTINUE'``.
    """
    schema = debezium_envelope_schema(table)
    return raw.select(
        F.from_json(F.col(value_col), schema).alias("e"), *[c for c in raw.columns if c != value_col]
    ).select(
        F.col("e.payload.before").alias("before"),
        F.col("e.payload.after").alias("after"),
        F.col("e.payload.op").alias("op"),
        F.col("e.payload.ts_ms").alias("ts_ms"),
        F.col("e.payload.source.lsn").alias("lsn"),
    )


def to_bronze_rows(events: DataFrame, drop_deletes: bool = True) -> DataFrame:
    """Flatten envelopes to Bronze row images.

    ``drop_deletes=True`` reproduces the reference consumer exactly
    (kafka_to_minio.py:69: ``if record:``). With ``False``, deletes are
    kept as rows with ``_deleted=true`` carrying the *before* image, so
    downstream merges can propagate them (the reference's known gap,
    SURVEY.md §2.1 S1 note).
    """
    upserts = (
        events.filter(F.col("after").isNotNull())
        .select("after.*", "op", "ts_ms", "lsn")
        .withColumn("_deleted", F.lit(False))
    )
    if drop_deletes:
        return upserts
    deletes = (
        events.filter(F.col("after").isNull() & F.col("before").isNotNull())
        .select("before.*", "op", "ts_ms", "lsn")
        .withColumn("_deleted", F.lit(True))
    )
    return upserts.unionByName(deletes)
