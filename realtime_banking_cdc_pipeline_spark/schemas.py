"""Schema constants for the engine.

Banking OLTP schemas derive from the reference DDL
(``postgres/schema.sql:4-31``); the Debezium change-event envelope from
the consumer's expectations (``consumer/kafka_to_minio.py:63-71``) and
connector config (``kafka-debezium/generate_and_post_connector.py:23-31``
— schemaless JSON, ``decimal.handling.mode=double``, no tombstones).

Engine decision (SURVEY.md §1.2): the OLTP model carries
``DecimalType(18,2)`` for money (correctness win over the reference's
deliberate double-laundering); the CDC envelope mirrors the reference's
on-the-wire doubles. Staging casts re-impose types, as the reference's
dbt staging views do.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# OLTP source tables (postgres/schema.sql:4-31)
# ---------------------------------------------------------------------------

CUSTOMERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

ACCOUNTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("customer_id", T.LongType(), True),
        T.StructField("account_type", T.StringType(), True),
        T.StructField("balance", T.DecimalType(18, 2), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("account_id", T.LongType(), True),
        T.StructField("txn_type", T.StringType(), True),
        T.StructField("amount", T.DecimalType(18, 2), True),
        T.StructField("related_account_id", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "customers": CUSTOMERS_SCHEMA,
    "accounts": ACCOUNTS_SCHEMA,
    "transactions": TRANSACTIONS_SCHEMA,
}

# SCD2 `check` strategy columns per snapshot
# (banking_dbt/snapshots/customers_snapshot.sql:6-8, accounts_snapshot.sql:6-8)
SCD2_CHECK_COLS: dict[str, list[str]] = {
    "customers": ["first_name", "last_name", "email"],
    "accounts": ["customer_id", "account_type", "balance"],
}


def _wire_struct(table_schema: T.StructType) -> T.StructType:
    """On-the-wire row image: decimals degrade to double, timestamps to
    ms-epoch longs — matching Debezium with ``decimal.handling.mode=double``
    and default temporal handling (generate_and_post_connector.py:29)."""
    fields = []
    for f in table_schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            dt: T.DataType = T.DoubleType()
        elif isinstance(f.dataType, T.TimestampType):
            dt = T.LongType()  # epoch micros from Debezium for TIMESTAMPTZ
        else:
            dt = f.dataType
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def debezium_envelope_schema(table: str) -> T.StructType:
    """Schemaless-JSON Debezium envelope for one table
    (consumer/kafka_to_minio.py:66-67 reads payload.after)."""
    row = _wire_struct(TABLE_SCHEMAS[table])
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", row, True),
                        T.StructField("after", row, True),
                        T.StructField("op", T.StringType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                        T.StructField(
                            "source",
                            T.StructType(
                                [
                                    T.StructField("table", T.StringType(), True),
                                    T.StructField("lsn", T.LongType(), True),
                                ]
                            ),
                            True,
                        ),
                    ]
                ),
                True,
            )
        ]
    )


# Kafka-framed fixture record (FIXTURES.md §2): one row per CDC message.
KAFKA_FIXTURE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), False),  # envelope JSON
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Driver testdata table names (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
