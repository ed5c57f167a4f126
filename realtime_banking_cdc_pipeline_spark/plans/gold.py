"""Gold star-schema models (SURVEY.md §2.7 C2/C3, §2.3 J1/J2).

- ``build_dim`` — SCD2 snapshot → dimension view: rename validity
  columns, derive ``is_current`` (``dim_customers.sql:3-16``,
  ``dim_accounts.sql:3-17``).
- ``build_fact_transactions`` — staged transactions LEFT JOIN accounts
  to denormalize ``customer_id`` (``fact_transactions.sql:13-15``),
  merged incrementally on ``transaction_id``.

Scale notes: the dims are small relative to facts → the join is
broadcast (explicit hint, though Catalyst would pick it under the
10 MB threshold anyway). The fact merge is one shuffle on
``transaction_id`` (the recency-aware union ⊎ dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.incremental import incremental_merge


def build_dim(snapshot: DataFrame) -> DataFrame:
    """SCD2 snapshot → dim with effective_from/to + is_current (C2/P6)."""
    out = (
        snapshot.withColumnRenamed("valid_from", "effective_from")
        .withColumnRenamed("valid_to", "effective_to")
        .withColumn(
            "is_current",
            F.when(F.col("effective_to").isNull(), F.lit(True)).otherwise(F.lit(False)),
        )
    )
    # audit columns stay internal to the snapshot (dim shape per
    # dim_customers.sql:3-16 / FIXTURES.md §3)
    return out.drop("event_ts", "lsn")


def build_fact_transactions(
    stg_txns: DataFrame,
    accounts_dim: DataFrame,
    existing_fact: DataFrame | None = None,
) -> DataFrame:
    """fact_transactions.sql:3-15 + incremental merge (C3).

    ``accounts_dim`` must be the CUMULATIVE account→customer mapping
    (current SCD2 rows), not just this batch's staged accounts —
    fact_transactions.sql joins the full staging table, so a transaction
    whose account image arrived in an earlier batch still resolves
    customer_id.

    Output schema per FIXTURES.md §3: transaction_id, account_id,
    customer_id, amount, related_account_id, status, transaction_type,
    transaction_time, load_timestamp, plus the (ts_ms, lsn) audit
    columns later batches recency-compare on merge — the durable/state
    copy keeps them, the presented gold view drops them.
    """
    accts = F.broadcast(accounts_dim.select("account_id", "customer_id"))
    fact = stg_txns.join(accts, "account_id", "left").select(
        "transaction_id",
        "account_id",
        "customer_id",
        "amount",
        "related_account_id",
        "status",
        "transaction_type",
        "transaction_time",
        "ts_ms",
        "lsn",
        F.current_timestamp().alias("load_timestamp"),
    )
    return incremental_merge(
        existing_fact,
        fact,
        unique_key="transaction_id",
        order_by=["transaction_time", "ts_ms", "lsn"],
    )
