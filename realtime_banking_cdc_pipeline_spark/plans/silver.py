"""Silver staging models (dbt staging views re-expressed as DataFrame
functions whose projections are the models' SQL select lists;
SURVEY.md §3.2).

Each mirrors one reference model: typed projection + rename (P1/P2) +
dedup-latest (W1). The reference casts warehouse-side ids to *strings*
(``stg_customers.sql:5``, ``v:id::string``) — replicated here so Gold
schemas match FIXTURES.md §3. A ``load_timestamp`` audit column (P5) is
added like ``stg_*.sql``.

These are logical-plan aliases (dbt ``materialized='view'``): Catalyst
inlines them and prunes columns/predicates straight down to the Bronze
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.dedup import dedup_latest


def _deduped(bronze: DataFrame) -> DataFrame:
    # W1 with deterministic tiebreak: created_at DESC, ts_ms DESC, lsn DESC
    # (stg_customers.sql:11-14 orders by created_at only — under-determined;
    # see SURVEY.md §2.5 ordering note).
    return dedup_latest(bronze, ["id"], ["created_at", "ts_ms", "lsn"])


# Bronze rows carry the wire types from sources/cdc.py: decimals as
# double, timestamps as epoch-micros longs (Debezium defaults), so
# created_at goes through timestamp_micros. The CDC event-time audit
# columns (event_ts, lsn) are not in the reference's staging, but its
# schema has no updated_at (postgres/schema.sql:4-10): created_at is
# frozen on UPDATE, so event time is the only usable SCD2 effective
# time and dedup tiebreak (SURVEY.md §2.5 ordering note). Gold models
# drop them at the boundary, matching the reference's output shapes.


def stg_customers(bronze_customers: DataFrame, latest_only: bool = True) -> DataFrame:
    """stg_customers.sql:5-26 — cast, rename, dedup-latest.

    ``latest_only=False`` keeps every change image (ordered by event
    time) — the input SCD2 snapshots need to build full version chains.
    """
    d = _deduped(bronze_customers) if latest_only else bronze_customers
    return d.selectExpr(
        "CAST(id AS STRING) AS customer_id",
        "first_name",
        "last_name",
        "email",
        "timestamp_micros(created_at) AS created_at",
        "_deleted",
        "timestamp_millis(ts_ms) AS event_ts",
        "lsn",
        "current_timestamp() AS load_timestamp",
    )


# Money typing (SURVEY §1.2): the reference launders NUMBER(10,2) through
# JSON double (generate_and_post_connector.py:29) and casts back to FLOAT
# in staging (stg_accounts.sql:8). ``decimal=True`` instead carries
# DecimalType(18,2) end-to-end — exact sums, order-independent — with
# ``double_compat_view`` reproducing the reference's lossy shape for
# consumers that expect it. Default stays double for reference parity.
def double_compat_view(df: DataFrame, money_cols: list[str]) -> DataFrame:
    """The stg_accounts.sql:8 shape: decimal money re-cast to double for
    consumers written against the reference's FLOAT columns."""
    return df.withColumns({c: df[c].cast("double") for c in money_cols})


def stg_accounts(
    bronze_accounts: DataFrame, latest_only: bool = True, decimal: bool = False
) -> DataFrame:
    """stg_accounts.sql:5-28."""
    d = _deduped(bronze_accounts) if latest_only else bronze_accounts
    money = "DECIMAL(18,2)" if decimal else "DOUBLE"
    return d.selectExpr(
        "CAST(id AS STRING) AS account_id",
        "CAST(customer_id AS STRING) AS customer_id",
        "account_type",
        f"CAST(balance AS {money}) AS balance",
        "currency",
        "timestamp_micros(created_at) AS created_at",
        "_deleted",
        "timestamp_millis(ts_ms) AS event_ts",
        "lsn",
        "current_timestamp() AS load_timestamp",
    )


def stg_transactions(
    bronze_transactions: DataFrame, decimal: bool = False
) -> DataFrame:
    """stg_transactions.sql:4-11 — projection/rename, NO dedup in the
    reference (facts are append-only; duplicates handled by the
    incremental merge's unique_key). ``_deleted`` rides along so the
    fact merge can propagate a delete (always false in compat mode)."""
    money = "DECIMAL(18,2)" if decimal else "DOUBLE"
    return bronze_transactions.selectExpr(
        "CAST(id AS STRING) AS transaction_id",
        "CAST(account_id AS STRING) AS account_id",
        "txn_type AS transaction_type",
        f"CAST(amount AS {money}) AS amount",
        "CAST(related_account_id AS STRING) AS related_account_id",
        "status",
        "timestamp_micros(created_at) AS transaction_time",
        "_deleted",
        "ts_ms",
        "lsn",
        "current_timestamp() AS load_timestamp",
    )
