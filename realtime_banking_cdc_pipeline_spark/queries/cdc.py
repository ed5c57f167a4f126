"""CDC / SCD2 / incremental-merge queries (SURVEY.md §2.7) exercised on
the ``events`` change-log analog (FIXTURES.md §4: SCD2 applied to a
sorted ``events`` change-log; event_id ≈ Debezium lsn tiebreak).

The even/odd event_id split below simulates the reference's two-phase
life: an existing snapshot/target built from older data (evens) and an
incoming CDC batch (odds) merged into it — the dbt snapshot + dbt
incremental run pair (scd_snapshots.py:22-29)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_latest
from ..operators.incremental import incremental_merge
from ..operators.scd2 import scd2_apply, scd2_from_change_log, scd2_init
from ..operators.windows import sessionize
from ._det import dec, dsum, events_table
from .registry import query

_EV_COLS = ("user_id", "event_id", "event_type", "value", "ts")


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_table(spark, sf_dir).select(*_EV_COLS)


# ---------------------------------------------------------------------------
# C1a — SCD2 full-history replay from a change log (backfill form)
# ---------------------------------------------------------------------------

_C1_SQL = """
WITH collapsed AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
             AS prev_type
    FROM events
  ) WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_id, event_type, value, ts,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
         AS is_current
FROM collapsed
"""


@query(
    "c1_scd2_replay",
    _C1_SQL,
    doc=(
        "C1 SCD2 history replay: dbt `check` strategy over an ordered change log "
        "(no-op updates collapse; lead() closes versions). One window shuffle."
    ),
    bench=True,
)
def c1_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _ev(spark, sf_dir)
    hist = scd2_from_change_log(
        log,
        key="user_id",
        as_of_col="ts",
        tiebreak_cols=["event_id"],
        check_cols=["event_type"],
    )
    return hist.select(*_EV_COLS, "valid_from", "valid_to", "is_current")


# ---------------------------------------------------------------------------
# C1b — scd2_apply: one batch merged into an existing snapshot
# ---------------------------------------------------------------------------

_C1B_SQL = """
WITH snap AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0
  ) WHERE rn = 1
),
upd AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1
  ) WHERE rn = 1
)
SELECT s.user_id, s.event_id, s.event_type, s.value, s.ts,
       s.ts AS valid_from,
       CASE WHEN u.user_id IS NOT NULL AND u.event_type <> s.event_type
            THEN u.ts ELSE NULL END AS valid_to,
       (u.user_id IS NULL OR u.event_type = s.event_type) AS is_current
FROM snap s LEFT JOIN upd u ON s.user_id = u.user_id
UNION ALL
SELECT u.user_id, u.event_id, u.event_type, u.value, u.ts,
       u.ts AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to,
       TRUE AS is_current
FROM upd u LEFT JOIN snap s ON u.user_id = s.user_id
WHERE s.user_id IS NULL OR s.event_type <> u.event_type
"""


@query(
    "c1b_scd2_apply",
    _C1B_SQL,
    doc=(
        "C1 scd2_apply: incoming batch vs open snapshot versions — changed keys "
        "close old + open new, no-op updates keep, unseen keys insert "
        "(customers_snapshot.sql semantics as one co-partitioned full-outer join)."
    ),
)
def c1b_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    evens = ev.filter(F.col("event_id") % 2 == 0)
    odds = ev.filter(F.col("event_id") % 2 == 1)
    snapshot = scd2_init(
        dedup_latest(evens, ["user_id"], ["ts", "event_id"]), as_of_col="ts"
    )
    merged = scd2_apply(
        snapshot,
        odds,
        key="user_id",
        check_cols=["event_type"],
        as_of_col="ts",
        tiebreak_cols=["event_id"],
    )
    return merged.select(*_EV_COLS, "valid_from", "valid_to", "is_current")


# ---------------------------------------------------------------------------
# C3 — incremental merge on unique key (fact_transactions materialization)
# ---------------------------------------------------------------------------

_C3_SQL = """
WITH target AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0
  ) WHERE rn = 1
),
batch AS (
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 1
  ) WHERE rn = 1
)
, unioned AS (
  SELECT user_id, event_id, event_type, value, ts, 0 AS src FROM target
  UNION ALL
  SELECT user_id, event_id, event_type, value, ts, 1 AS src FROM batch
)
SELECT user_id, event_id, event_type, value, ts FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC, src DESC) AS rn
  FROM unioned
) WHERE rn = 1
"""


@query(
    "c3_incremental_merge",
    _C3_SQL,
    doc=(
        "C3 incremental MERGE-on-unique-key emulation: batch folds to latest "
        "image; matched rows resolve by RECENCY (a stale image redelivered in "
        "a later batch cannot clobber a newer target row), batch wins exact "
        "ties; unmatched kept (Delta MERGE with a timestamp guard)."
    ),
)
def c3_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    target = dedup_latest(
        ev.filter(F.col("event_id") % 2 == 0), ["user_id"], ["ts", "event_id"]
    )
    batch = ev.filter(F.col("event_id") % 2 == 1)
    return incremental_merge(target, batch, "user_id", order_by=["ts", "event_id"])


# ---------------------------------------------------------------------------
# C6 — incremental aggregate maintenance (rollup from deltas)
# ---------------------------------------------------------------------------

_C6_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(MIN(event_id) AS BIGINT) AS first_event,
       CAST(MAX(event_id) AS BIGINT) AS last_event
FROM events
GROUP BY event_type
"""


@query(
    "c6_incremental_rollup",
    _C6_SQL,
    doc=(
        "Aggregate maintenance: the per-event-type rollup is built from "
        "two delta batches (partial agg ⊎ re-agg, O(batch)+O(groups) per "
        "run — never a fact re-scan) and must equal the direct full "
        "GROUP BY. The at-scale form of 'rebuild the mart every run'."
    ),
)
def c6_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import incremental_rollup
    from ._det import dec

    ev = _ev(spark, sf_dir).withColumn("value_dec", dec("value", 18, 2))
    measures = {
        "n_events": ("count", "event_id"),
        "total_value": ("sum", "value_dec"),
        "first_event": ("min", "event_id"),
        "last_event": ("max", "event_id"),
    }
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    r = incremental_rollup(None, b1, ["event_type"], measures)
    r = incremental_rollup(r, b2, ["event_type"], measures)
    return r.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        F.col("first_event").cast("bigint").alias("first_event"),
        F.col("last_event").cast("bigint").alias("last_event"),
    )


# ---------------------------------------------------------------------------
# Sessionization — transaction-velocity / fraud analytics (readme.md:408-412)
# ---------------------------------------------------------------------------

_SESS_SQL = """
WITH flagged AS (
  SELECT user_id, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           LAG(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
    FROM events
  )
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM flagged
GROUP BY user_id
"""


@query(
    "w_sessionize",
    _SESS_SQL,
    doc="Sessionization (30-min gap) via lag+cumsum — fraud/velocity analytics; batch twin of session_window.",
    bench=True,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    s = sessionize(ev, ["user_id"], "ts", 30.0, tiebreak_cols=["event_id"])
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(dec("value", 18, 2), "total_value"),
    )
