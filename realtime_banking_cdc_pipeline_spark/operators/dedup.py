"""Deduplication operators.

``dedup_latest`` is the workhorse of the whole reference pipeline (W1 in
SURVEY.md §2.5): every staging model collapses multiple CDC images of a
row to the newest via ``row_number() OVER (PARTITION BY id ORDER BY
created_at DESC)`` then ``rn = 1`` (``stg_customers.sql:11-14,26``,
``stg_accounts.sql:12-15,28``).

Determinism note: the reference orders only by ``created_at``, which is
unchanged on UPDATE — an under-determined tiebreak. The engine requires
explicit tiebreak columns (typically the Debezium ``ts_ms`` and the
monotonic ``lsn``/event id) so results are stable across runs and
engines.

Scale: one hash-shuffle on the key — no global sort, no driver-side
state. At 100 TB prefer feeding them from a source
already bucketed/partitioned by the key so the exchange is elided.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Keep the newest row per key.

    ``order_by`` columns are ranked descending in the given priority
    order (first column is the primary recency measure, the rest break
    ties). The plan is this SQL, written as one ``selectExpr`` (names
    backtick-quoted, since callers pass their own)::

        SELECT * EXCEPT (__rn) FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY <keys> ORDER BY <o1> DESC, <o2> DESC, ...) __rn
          FROM t) WHERE __rn = 1
    """
    part = ", ".join(f"`{k}`" for k in keys)
    order = ", ".join(f"`{c}` DESC" for c in order_by)
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {part} ORDER BY {order}) AS __rn")
        .filter("__rn = 1")
        .drop("__rn")
    )
