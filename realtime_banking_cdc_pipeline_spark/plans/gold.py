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

from ..operators.incremental import incremental_merge

# snapshot column -> its dim_*.sql select item
_DIM_ITEMS = {
    "valid_from": "valid_from AS effective_from",
    "valid_to": "valid_to AS effective_to",
    "is_current": "valid_to IS NULL AS is_current",
}


def build_dim(snapshot: DataFrame) -> DataFrame:
    """SCD2 snapshot → dim with effective_from/to + is_current (C2/P6):
    one select, in snapshot column order. The audit columns (event_ts,
    lsn) stay internal to the snapshot (dim shape per
    dim_customers.sql:3-16 / FIXTURES.md §3)."""
    return snapshot.selectExpr(
        *[_DIM_ITEMS.get(c, f"`{c}`") for c in snapshot.columns if c not in ("event_ts", "lsn")]
    )


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

    A delete image (``_deleted``, delete-propagating mode) is the newest
    image of its key, so it wins the merge and then removes the row.
    The fact keeps no tombstone: a stale image of the key redelivered
    in a later batch inserts it again.
    """
    accts = accounts_dim.select("account_id", "customer_id").hint("broadcast")
    fact = stg_txns.join(accts, "account_id", "left").selectExpr(
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
        "current_timestamp() AS load_timestamp",
        "_deleted",
    )
    if existing_fact is not None:
        existing_fact = existing_fact.selectExpr("*", "false AS _deleted")
    return incremental_merge(
        existing_fact,
        fact,
        unique_key="transaction_id",
        order_by=["transaction_time", "ts_ms", "lsn"],
    ).filter("NOT _deleted").drop("_deleted")
