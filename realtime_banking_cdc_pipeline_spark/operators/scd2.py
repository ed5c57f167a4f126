"""SCD Type-2 operators (C1/C2 in SURVEY.md §2.7).

The reference implements SCD2 via dbt snapshots with the ``check``
strategy (``banking_dbt/snapshots/customers_snapshot.sql:1-11``,
``accounts_snapshot.sql:1-12``): compare incoming current rows against
the open version per key on ``check_cols``; on change, close the old
version and open a new one. ``dim_customers.sql:3-16`` /
``dim_accounts.sql:3-17`` rename the validity columns and derive
``is_current``.

Two implementations:

- ``scd2_apply`` — one batch of current rows merged into an existing
  snapshot. Pure-DataFrame (parquet-friendly): a single full-outer join
  on the key between open versions and deduped incoming rows, then a
  union of (closed old versions, kept versions, new versions). On Delta
  this collapses to a MERGE; the join is key-partitioned either way, so
  at scale it is one co-partitioned shuffle — no driver state.

- ``scd2_from_change_log`` — rebuild the full version history from an
  ordered change log in one pass: ``lead(ts)`` per key gives each
  version's close time. This is the deterministic "replay" form used by
  backfills, and is pure window SQL (oracle-checkable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import dedup_latest

SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_init(current_rows: DataFrame, as_of_col: str) -> DataFrame:
    """First snapshot run: every row becomes an open version
    (dbt snapshot first invocation ≡ CTAS)."""
    return (
        current_rows.withColumn("valid_from", F.col(as_of_col))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def scd2_apply(
    snapshot: DataFrame | None,
    updates: DataFrame,
    key: str,
    check_cols: Sequence[str],
    as_of_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge a batch of incoming row images into an SCD2 snapshot.

    ``updates`` may contain multiple images per key (at-least-once
    delivery, intra-batch changes): they are folded to the newest image
    first with :func:`dedup_latest` — the step dbt gets for free because
    its staging views already dedup (SURVEY.md §7 phase 2 risk note).

    Change detection hashes ``check_cols`` (null-safe) exactly like
    dbt's ``check`` strategy row comparison.
    """
    updates = dedup_latest(updates, [key], [as_of_col, *tiebreak_cols])
    data_cols = [c for c in updates.columns]

    def change_hash(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__chash",
            F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in check_cols]),
        )

    if snapshot is None:
        return scd2_init(updates, as_of_col)

    open_v = change_hash(snapshot.filter(F.col("is_current")))
    closed_v = snapshot.filter(~F.col("is_current"))
    incoming = change_hash(updates)

    j = open_v.alias("o").join(incoming.alias("n"), F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")

    changed = F.col(f"o.{key}").isNotNull() & F.col(f"n.{key}").isNotNull() & (
        F.col("o.__chash") != F.col("n.__chash")
    )
    brand_new = F.col(f"o.{key}").isNull()

    # Old versions: closed if the incoming image differs, kept otherwise.
    old_side = j.filter(F.col(f"o.{key}").isNotNull()).select(
        *[F.col(f"o.{c}").alias(c) for c in data_cols],
        F.col("o.valid_from").alias("valid_from"),
        F.when(changed, F.col(f"n.{as_of_col}")).otherwise(F.col("o.valid_to")).alias("valid_to"),
        F.when(changed, F.lit(False)).otherwise(F.lit(True)).alias("is_current"),
    )
    # New versions: changed keys + never-seen keys open a fresh version.
    new_side = j.filter(changed | brand_new).select(
        *[F.col(f"n.{c}").alias(c) for c in data_cols],
        F.col(f"n.{as_of_col}").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_v.select(*data_cols, *SCD2_COLS).unionByName(old_side).unionByName(new_side)


def scd2_merge_images(
    snapshot: DataFrame | None,
    images: DataFrame,
    key: str,
    check_cols: Sequence[str],
    as_of_col: str,
    tiebreak_cols: Sequence[str] = (),
    deleted_col: str | None = None,
) -> DataFrame:
    """Merge a batch that may contain MULTIPLE change images per key,
    preserving every intermediate version (unlike :func:`scd2_apply`,
    which folds to the newest image — dbt's snapshot cadence).

    Mechanics: union the open snapshot versions (as images effective at
    their ``valid_from``, ranked before same-instant batch images) with
    the batch, replay per key via :func:`scd2_from_change_log`, and
    reattach the immutable closed history. A redelivered image equal to
    the open version collapses as a no-op (a no-op first batch image
    keeps the open version's original ``valid_from``), so replaying a
    batch with ONE image per key is idempotent. Replaying a batch with
    several images per key is NOT: its earlier images are already
    closed versions, which this merge does not compare against, so
    each replay duplicates them (ROADMAP open item 1, Defect 1).

    Late images older than an already-*closed* version are chained
    relative to the open version only — rewriting closed history would
    require a full replay (use scd2_from_change_log over the complete
    log for backfills).
    """
    if snapshot is None:
        first = scd2_from_change_log(
            images, key, as_of_col, tiebreak_cols, check_cols, deleted_col
        )
        # keep the snapshot schema tombstone-free in both cadences
        return first.drop(deleted_col) if deleted_col else first

    data_cols = list(images.columns)
    open_images = (
        snapshot.filter(F.col("is_current"))
        .withColumn(as_of_col, F.col("valid_from"))
        .select(*[c for c in data_cols if c != deleted_col])
    )
    if deleted_col:
        # snapshot holds live versions only; re-enter them as not-deleted
        open_images = open_images.withColumn(deleted_col, F.lit(False))
    open_images = open_images.select(*data_cols).withColumn("__src", F.lit(0))
    closed_v = snapshot.filter(~F.col("is_current")).select(
        *[c for c in data_cols if c != deleted_col], *SCD2_COLS
    )
    batch = images.select(*data_cols).withColumn("__src", F.lit(1))
    replayed = scd2_from_change_log(
        open_images.unionByName(batch),
        key,
        as_of_col,
        ["__src", *tiebreak_cols],
        check_cols,
        deleted_col,
    ).drop("__src")
    if deleted_col:
        replayed = replayed.drop(deleted_col)
        out_cols = [c for c in data_cols if c != deleted_col]
    else:
        out_cols = data_cols
    return closed_v.unionByName(replayed.select(*out_cols, *SCD2_COLS))


def scd2_from_change_log(
    log: DataFrame,
    key: str,
    as_of_col: str,
    tiebreak_cols: Sequence[str] = (),
    check_cols: Sequence[str] | None = None,
    deleted_col: str | None = None,
) -> DataFrame:
    """Replay an ordered change log into the full SCD2 history.

    Each log row is a row image effective at ``as_of_col``. Consecutive
    images with identical ``check_cols`` are collapsed (no-op updates
    open no version, matching dbt's ``check`` strategy). ``valid_to`` is
    the next version's ``valid_from`` (half-open intervals), null for
    the open version. One window shuffle on the key; no iteration.

    ``deleted_col`` (boolean) enables delete propagation — the
    capability the reference silently lacks (its consumer drops op=d,
    kafka_to_minio.py:69): a delete image closes the preceding version
    at its timestamp and opens nothing; a later insert re-opens a new
    chain. Delete images never collapse with the identical before-image
    (the deleted flag participates in the change hash).
    """
    order = [F.col(as_of_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(key).orderBy(*order)
    df = log
    if check_cols:
        hash_inputs = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in check_cols
        ]
        if deleted_col:
            hash_inputs.append(F.col(deleted_col).cast("string"))
        df = (
            df.withColumn("__chash", F.xxhash64(*hash_inputs))
            .withColumn("__prev", F.lag("__chash").over(w))
            .filter(F.col("__prev").isNull() | (F.col("__chash") != F.col("__prev")))
            .drop("__chash", "__prev")
        )
    out = (
        df.withColumn("valid_from", F.col(as_of_col))
        .withColumn("valid_to", F.lead(as_of_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    if deleted_col:
        # the delete image's timestamp has already closed the previous
        # version via lead(); the tombstone itself is not a version
        out = out.filter(~F.col(deleted_col))
    return out
