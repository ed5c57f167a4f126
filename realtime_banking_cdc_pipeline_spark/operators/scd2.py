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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_latest

SCD2_COLS = ("valid_from", "valid_to", "is_current")


def _change_hash(check_cols: Sequence[str]) -> str:
    """SQL of the null-safe row hash dbt's ``check`` strategy compares."""
    return "xxhash64({})".format(
        ", ".join(f"coalesce(CAST(`{c}` AS STRING), chr(0))" for c in check_cols)
    )


def scd2_init(current_rows: DataFrame, as_of_col: str) -> DataFrame:
    """First snapshot run: every row becomes an open version
    (dbt snapshot first invocation ≡ CTAS)."""
    return current_rows.selectExpr(
        "*",
        f"`{as_of_col}` AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to",
        "true AS is_current",
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
    if snapshot is None:
        return scd2_init(updates, as_of_col)

    data_cols = updates.columns
    chash = f"{_change_hash(check_cols)} AS __chash"
    open_v = snapshot.filter("is_current").selectExpr("*", chash)
    closed_v = snapshot.filter("NOT is_current").select(*data_cols, *SCD2_COLS)
    incoming = updates.selectExpr("*", chash)
    j = open_v.alias("o").join(incoming.alias("n"), F.expr(f"o.`{key}` = n.`{key}`"), "full_outer")

    changed = f"o.`{key}` IS NOT NULL AND n.`{key}` IS NOT NULL AND o.__chash <> n.__chash"
    # Old versions: closed if the incoming image differs, kept otherwise.
    old_side = j.filter(f"o.`{key}` IS NOT NULL").selectExpr(
        *[f"o.`{c}` AS `{c}`" for c in data_cols],
        "o.valid_from AS valid_from",
        f"CASE WHEN {changed} THEN n.`{as_of_col}` ELSE o.valid_to END AS valid_to",
        f"CASE WHEN {changed} THEN false ELSE true END AS is_current",
    )
    # New versions: changed keys + never-seen keys open a fresh version.
    new_side = j.filter(f"({changed}) OR o.`{key}` IS NULL").selectExpr(
        *[f"n.`{c}` AS `{c}`" for c in data_cols],
        f"n.`{as_of_col}` AS valid_from",
        "CAST(NULL AS TIMESTAMP) AS valid_to",
        "true AS is_current",
    )
    return closed_v.unionByName(old_side).unionByName(new_side)


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

    data_cols = images.columns
    out_cols = [f"`{c}`" for c in data_cols if c != deleted_col]
    # the open versions re-enter as images effective at valid_from; the
    # snapshot holds live versions only, so they are not deleted
    reentered = {as_of_col: "valid_from", deleted_col: "false"}
    open_images = snapshot.filter("is_current").selectExpr(
        *[f"{reentered[c]} AS `{c}`" if c in reentered else f"`{c}`" for c in data_cols],
        "0 AS __src",
    )
    closed_v = snapshot.filter("NOT is_current").selectExpr(*out_cols, *SCD2_COLS)
    replayed = scd2_from_change_log(
        open_images.unionByName(images.selectExpr("*", "1 AS __src")),
        key,
        as_of_col,
        ["__src", *tiebreak_cols],
        check_cols,
        deleted_col,
    )
    return closed_v.unionByName(replayed.selectExpr(*out_cols, *SCD2_COLS))


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

    The plan is two windowed selects over one window (names
    backtick-quoted, since callers pass their own)::

        SELECT *, <hash> AS __chash, lag(<hash>) OVER w AS __prev FROM log
          WHERE __chash IS DISTINCT FROM __prev                  -- collapse
        SELECT <log cols>, <as_of> AS valid_from,
               lead(<as_of>) OVER w AS valid_to                  -- close
    then ``valid_to IS NULL AS is_current``.
    """
    order = ", ".join(f"`{c}`" for c in (as_of_col, *tiebreak_cols))
    w = f"OVER (PARTITION BY `{key}` ORDER BY {order})"
    cols = [f"`{c}`" for c in log.columns]
    if check_cols:
        h = _change_hash([*check_cols, *([deleted_col] if deleted_col else [])])
        log = log.selectExpr("*", f"{h} AS __chash", f"lag({h}) {w} AS __prev").filter(
            "__chash IS DISTINCT FROM __prev"
        )
    out = log.selectExpr(
        *cols, f"`{as_of_col}` AS valid_from", f"lead(`{as_of_col}`) {w} AS valid_to"
    ).selectExpr("*", "valid_to IS NULL AS is_current")
    # the delete image's timestamp has already closed the previous
    # version via lead(); the tombstone itself is not a version
    return out.filter(f"NOT `{deleted_col}`") if deleted_col else out
