"""Debezium CDC envelope normalization (S1-S4/P3/P4 in SURVEY.md §2.1-2.2).

The reference's consumer reads schemaless-JSON Debezium events and keeps
only ``payload.after`` (``consumer/kafka_to_minio.py:63-71``), which
silently drops deletes (op=d has after=null) — inserts and updates both
land as new Bronze rows. The engine supports both that compat mode and
a correct delete-propagating mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import debezium_envelope_schema


def parse_envelope(raw: DataFrame, table: str, value_col: str = "value") -> DataFrame:
    """Parse Kafka-framed envelope JSON into typed columns.

    Input: rows with a JSON string ``value_col`` (FIXTURES.md §2 framing).
    Output: ``before`` / ``after`` structs + ``op`` / ``ts_ms`` / ``lsn``,
    one projection of the payload fields. Corrupt payloads parse to
    null structs (PERMISSIVE), mirroring ``ON_ERROR='CONTINUE'``. The
    schema goes to ``from_json`` as JSON, a form Spark's SQL parser
    reads as is (the envelope's ``source.table`` field would need
    quoting in DDL).
    """
    schema = debezium_envelope_schema(table).json()
    return raw.selectExpr(f"from_json(`{value_col}`, '{schema}') AS e").selectExpr(
        "e.payload.before AS before",
        "e.payload.after AS after",
        "e.payload.op AS op",
        "e.payload.ts_ms AS ts_ms",
        "e.payload.source.lsn AS lsn",
    )


def to_bronze_rows(events: DataFrame, drop_deletes: bool = True) -> DataFrame:
    """Flatten envelopes to Bronze row images, one image per envelope.

    ``drop_deletes=True`` reproduces the reference consumer exactly
    (kafka_to_minio.py:69: ``if record:``): the ``after`` image, so a
    delete (``after`` null) yields no row. With ``False`` the image is
    ``coalesce(after, before)`` and ``_deleted`` is ``after IS NULL``:
    a delete is kept as its *before* image with ``_deleted=true``, so
    downstream merges can propagate it (the reference's known gap,
    SURVEY.md §2.1 S1 note). Either way an envelope with no image
    (corrupt, or neither before nor after) yields no row.
    """
    image, deleted = ("after", "false") if drop_deletes else ("coalesce(after, before)", "after IS NULL")
    return (
        events.filter(f"{image} IS NOT NULL")
        .selectExpr(f"{image} AS image", "op", "ts_ms", "lsn", f"{deleted} AS _deleted")
        .selectExpr("image.*", "op", "ts_ms", "lsn", "_deleted")
    )
