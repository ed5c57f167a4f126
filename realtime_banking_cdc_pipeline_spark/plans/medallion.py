"""Medallion pipeline orchestration (SURVEY.md §3): the reference's
Kafka→MinIO→Snowflake→dbt chain collapsed into one deterministic
function pipeline — Bronze normalize → Silver staging → SCD2 snapshots
→ Gold star schema — runnable per micro-batch (streaming foreachBatch)
or per scheduled run (batch), no orchestrator required
(scd_snapshots.py:22-29 becomes a function call).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..caching import track_local_checkpoint
from ..operators.quality import (
    expect_empty,
    orphan_rows,
    violations_duplicate_key,
    violations_multiple_current,
    violations_non_positive,
    violations_null,
)
from ..operators.scd2 import scd2_merge_images
from ..schemas import SCD2_CHECK_COLS, TABLE_SCHEMAS
from ..sources.cdc import parse_envelope, to_bronze_rows
from ..sources.parquet_io import read_staged, write_staged
from .gold import build_dim, build_fact_transactions
from .silver import stg_accounts, stg_customers, stg_transactions


@dataclass
class MedallionState:
    """Persisted-between-runs tables. ``save``/``load`` round-trip the
    SCD2 snapshots and the audit-bearing fact through parquet so a
    restarted job resumes with full version history — without this,
    rebuilding from ``empty()`` silently drops all pre-restart dim
    versions. The three tables are committed together
    (``write_staged``), so a crash mid-save loads the previous batch's
    state whole, never a mix of two batches.

    After a ``run_pipeline`` every table is a local checkpoint taken
    where its layer built it (``run_snapshots``, ``run_gold``): ``save``
    writes the checkpointed rows, re-runs no merge and no longer reads
    the paths it overwrites."""

    snapshots: dict[str, DataFrame | None]
    fact: DataFrame | None

    @classmethod
    def empty(cls) -> "MedallionState":
        return cls(snapshots={"customers": None, "accounts": None}, fact=None)

    def save(self, base_dir: str) -> None:
        """Persist fact + snapshots as one staged commit (a state saved
        straight after ``load`` still reads these same paths, which the
        staging dir keeps safe)."""
        tables = {"fact_state": self.fact}
        tables.update((f"snapshot_{t}", snap) for t, snap in self.snapshots.items())
        write_staged(base_dir, {n: df for n, df in tables.items() if df is not None})

    @classmethod
    def load(cls, spark: SparkSession, base_dir: str) -> "MedallionState":
        """Read back what ``save`` committed; an interrupted save is
        finished or dropped first (``read_staged``), so a crash mid-save
        never reads as a first run."""
        tables = read_staged(
            spark, base_dir, "fact_state", "snapshot_customers", "snapshot_accounts"
        )
        return cls(
            snapshots={t: tables[f"snapshot_{t}"] for t in ("customers", "accounts")},
            fact=tables["fact_state"],
        )


def bronze_from_kafka_frames(
    frames: DataFrame, drop_deletes: bool = True
) -> dict[str, DataFrame]:
    """Kafka-framed fixture rows (topic/key/value/ts) → per-table Bronze
    row images. Topic fan-out is a filter per table — with the real
    Kafka source this is one multi-topic stream split by the ``topic``
    column (kafka_to_minio.py:55-59's per-topic buffers, declaratively)."""
    out = {}
    for table in TABLE_SCHEMAS:
        raw = frames.filter(f"endswith(topic, '.{table}')")
        out[table] = to_bronze_rows(parse_envelope(raw, table), drop_deletes=drop_deletes)
    return out


def run_silver(
    bronze: dict[str, DataFrame], decimal_money: bool = False
) -> dict[str, DataFrame]:
    """Current-row staging views (W1-deduped) plus full change-image
    variants for the SCD2 snapshots. ``decimal_money=True`` carries
    DecimalType(18,2) money end-to-end (exact aggregation) instead of
    the reference's double laundering."""
    return {
        "customers": stg_customers(bronze["customers"]),
        "accounts": stg_accounts(bronze["accounts"], decimal=decimal_money),
        "transactions": stg_transactions(bronze["transactions"], decimal=decimal_money),
        "customers_images": stg_customers(bronze["customers"], latest_only=False),
        "accounts_images": stg_accounts(
            bronze["accounts"], latest_only=False, decimal=decimal_money
        ),
    }


def run_snapshots(
    state: MedallionState, silver: dict[str, DataFrame]
) -> MedallionState:
    """dbt-snapshot equivalent (C1), upgraded: every change image in the
    batch opens/closes a version (the reference's daily snapshot cadence
    silently drops intra-day versions — SURVEY.md §7 phase-2 risk).
    Effective time is the CDC event time (``event_ts``; ``created_at``
    is frozen on UPDATE in this schema), lsn breaks equal-ms ties.

    Each merged snapshot is materialized here, once per batch (a local
    checkpoint, like a dbt snapshot table): Gold, ``save`` and the
    quality suite scan it instead of re-running Bronze→Silver→merge."""
    key_cols = {"customers": "customer_id", "accounts": "account_id"}
    for table in ("customers", "accounts"):
        merged = scd2_merge_images(
            state.snapshots[table],
            silver[f"{table}_images"].drop("load_timestamp"),
            key=key_cols[table],
            check_cols=SCD2_CHECK_COLS[table],
            as_of_col="event_ts",
            tiebreak_cols=["lsn"],
            # delete propagation: a tombstone closes the open version and
            # opens nothing (in compat mode every _deleted is False and
            # this is a no-op) — the reference's known gap, SURVEY §2.1
            deleted_col="_deleted",
        )
        state.snapshots[table] = track_local_checkpoint(merged)
    return state


def run_gold(
    state: MedallionState, silver: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Dims and fact from the checkpointed snapshots; the merged state
    fact is checkpointed once, and the presented fact, the sink,
    ``save`` and the quality suite read that checkpoint."""
    dims = {
        "dim_customers": build_dim(state.snapshots["customers"]),
        "dim_accounts": build_dim(state.snapshots["accounts"]),
    }
    # Denormalize against the CUMULATIVE account dimension (the open
    # SCD2 rows), not this batch's staged accounts: a transaction whose
    # account CDC image arrived in an earlier batch must still resolve
    # customer_id (fact_transactions.sql joins the full staging table).
    accounts_dim = state.snapshots["accounts"].filter("valid_to IS NULL")
    state.fact = track_local_checkpoint(
        build_fact_transactions(silver["transactions"], accounts_dim, existing_fact=state.fact)
    )
    # presented fact drops the (ts_ms, lsn) audit cols; the state copy
    # keeps them so later batches can recency-compare on merge
    return {**dims, "fact_transactions": state.fact.drop("ts_ms", "lsn")}


def run_pipeline(
    spark: SparkSession,
    frames: DataFrame,
    state: MedallionState | None = None,
    drop_deletes: bool = True,
    decimal_money: bool = False,
) -> tuple[MedallionState, dict[str, DataFrame]]:
    """One full batch: Kafka frames → Bronze → Silver → snapshots → Gold."""
    state = state or MedallionState.empty()
    bronze = bronze_from_kafka_frames(frames, drop_deletes=drop_deletes)
    silver = run_silver(bronze, decimal_money=decimal_money)
    state = run_snapshots(state, silver)
    gold = run_gold(state, silver)
    return state, gold


def register_gold_views(gold: dict[str, DataFrame]) -> None:
    """Bind the gold outputs into the session catalog under the
    reference's model names (dim_customers / dim_accounts /
    fact_transactions) so a dbt/SQL user's existing queries run
    verbatim via ``spark.sql`` — the switch-over contract."""
    for name, df in gold.items():
        df.createOrReplaceTempView(name)


def run_quality_suite(gold: dict[str, DataFrame]) -> None:
    """T1-T6 (readme.md:196-224) as hard assertions after every build."""
    fact = gold["fact_transactions"]
    dim_a = gold["dim_accounts"]
    expect_empty(violations_duplicate_key(fact, ["transaction_id"]), "T1 unique txn id")
    expect_empty(
        violations_null(fact, ["transaction_id", "account_id", "amount"]),
        "T2 not_null critical fact cols",
    )
    expect_empty(violations_non_positive(fact, "amount"), "T3 positive_amount")
    expect_empty(
        orphan_rows(fact.select("account_id"), dim_a, "account_id"),
        "T5 no orphan facts",
    )
    for name in ("dim_customers", "dim_accounts"):
        key = "customer_id" if name == "dim_customers" else "account_id"
        expect_empty(
            violations_multiple_current(gold[name], key), f"T6 single current row {name}"
        )
