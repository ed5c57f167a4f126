"""Incremental materialization (C3 in SURVEY.md §2.7).

The reference's ``fact_transactions`` is dbt ``materialized='incremental',
unique_key='transaction_id'`` (``fact_transactions.sql:1``): first run
CTAS, later runs upsert the batch, with MERGE-on-unique-key making
retries idempotent (``readme.md:704-705``).

Parquet-friendly implementation: one keyed merge, ``target ⊎ batch``
folded to the newest row per key — MERGE semantics (matched rows
replaced, unmatched inserted) with ONE shuffle on the unique key. At
scale, bucket the target by that key to elide its side of the exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_latest


def incremental_merge(
    target: DataFrame | None,
    batch: DataFrame,
    unique_key: str,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Upsert ``batch`` into ``target`` on ``unique_key``: target rows
    (``_src=0``) and batch rows (``_src=1``) fold to the newest row per
    key by ``order_by`` (recency columns present in both frames), then
    ``_src``. So a multi-image batch keeps its latest image, a stale
    image redelivered in a later batch (past any watermark-dedup TTL)
    cannot overwrite a newer target row, and ties prefer the batch row
    (re-applying a batch is idempotent). With no ``order_by`` the batch
    wins every matched key. Null-key rows collapse to one row.
    """
    if target is None:
        merged = batch.selectExpr("*", "1 AS _src")
    else:
        merged = target.selectExpr("*", "0 AS _src").unionByName(
            batch.selectExpr(*[f"`{c}`" for c in target.columns], "1 AS _src")
        )
    return dedup_latest(merged, [unique_key], [*order_by, "_src"]).drop("_src")


# Aggregate-maintenance: measures whose partial states compose by
# addition. (sum, count) pairs also reconstitute avg; min/max compose by
# min/max. Anything needing full re-read (exact distinct, percentiles)
# deliberately isn't here — at scale those go through sketches.
_MERGEABLE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def incremental_rollup(
    existing: DataFrame | None,
    batch: DataFrame,
    group_cols: Sequence[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Maintain a materialized rollup from deltas: aggregate ONLY the
    batch, union with the existing rollup, re-aggregate the partials —
    cost is O(batch) + O(groups), never a fact re-scan. This is the
    at-scale form of the reference's 'rebuild the mart every run' dbt
    models.

    ``measures`` maps output column → (agg, source_col) with agg in
    {sum, count, min, max}. ``count`` counts batch rows (the partial is
    a sum of counts on merge).
    """
    batch_aggs = []
    for out, (agg, src) in measures.items():
        if agg not in _MERGEABLE:
            raise ValueError(f"{agg!r} is not a mergeable aggregate")
        col = F.count(F.lit(1)) if agg == "count" else getattr(F, agg)(src)
        batch_aggs.append(col.alias(out))
    partial = batch.groupBy(*group_cols).agg(*batch_aggs)
    if existing is None:
        return partial
    merged = existing.select(*partial.columns).unionByName(partial)
    remerge = [
        _MERGEABLE[agg](out).alias(out) for out, (agg, _src) in measures.items()
    ]
    return merged.groupBy(*group_cols).agg(*remerge)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Emit the change set that turns ``old`` into ``new`` — the
    reverse direction of change-log APPLY (scd2_from_change_log
    consumes a CDC stream; this PRODUCES one from two table versions,
    the downstream-sync / change-data-feed primitive).

    Returns key columns + ``op`` ('insert' | 'update' | 'delete'):
    keys only in ``new`` insert, only in ``old`` delete, in both with
    any differing compare column update; unchanged rows are omitted.
    One full outer hash join on the key — partition both sides by the
    key upstream and it is co-located; null-safe equality (<=>) so
    NULL→value transitions count as changes.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c not in key_cols
    ]
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}") == F.col(f"__nk_{c}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__nk_{key_cols[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else (changed | ne)
    op = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed if changed is not None else F.lit(False), F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__nk_{c}"), F.col(f"__ok_{c}")).alias(c)
                for c in key_cols
            ],
            "op",
        )
    )
