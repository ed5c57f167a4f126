"""End-to-end CDC fixture test (SURVEY.md §5 item 2): synthetic Debezium
envelopes → Bronze → Silver → Gold; SCD2 version chains and fact counts
asserted against the generator's tracked goldens, including the edge
cases the reference README names (nulls, duplicates, deletes,
out-of-order, redelivery, equal-timestamp tiebreaks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_banking_cdc_pipeline_spark.plans.medallion import (
    bronze_from_kafka_frames,
    run_pipeline,
    run_quality_suite,
)


def test_bronze_normalization_modes(spark, fixture_frames):
    import datetime as dt

    from realtime_banking_cdc_pipeline_spark.schemas import KAFKA_FIXTURE_SCHEMA
    from realtime_banking_cdc_pipeline_spark.sources.fixtures import TOPIC_PREFIX, _envelope

    bronze_compat = bronze_from_kafka_frames(fixture_frames, drop_deletes=True)
    bronze_full = bronze_from_kafka_frames(fixture_frames, drop_deletes=False)
    # compat mode reproduces the reference consumer: no delete rows at all
    assert bronze_compat["customers"].filter(F.col("op") == "d").count() == 0
    # correct mode surfaces deletes with the before-image
    deletes = bronze_full["customers"].filter(F.col("_deleted"))
    assert deletes.count() > 0
    assert deletes.filter(F.col("id").isNull()).count() == 0

    # one envelope of each shape: an update (both images), a delete
    # (before only) and an envelope with neither image
    def image(id_, email):
        return {"id": id_, "first_name": "A", "last_name": "B", "email": email, "created_at": 0}

    t = dt.datetime(2024, 1, 1)
    topic = f"{TOPIC_PREFIX}.customers"
    frames = spark.createDataFrame(
        [
            (topic, "1", _envelope("customers", image(1, "old"), image(1, "new"), "u", 10, 1), t),
            (topic, "2", _envelope("customers", image(2, "gone"), None, "d", 20, 2), t),
            (topic, "3", _envelope("customers", None, None, "r", 30, 3), t),
        ],
        schema=KAFKA_FIXTURE_SCHEMA,
    )

    def rows(drop_deletes):
        out = bronze_from_kafka_frames(frames, drop_deletes=drop_deletes)["customers"]
        return sorted((r["id"], r["email"], r["op"], r["_deleted"]) for r in out.collect())

    assert rows(drop_deletes=False) == [(1, "new", "u", False), (2, "gone", "d", True)]
    assert rows(drop_deletes=True) == [(1, "new", "u", False)]


def test_end_to_end_gold(spark, banking_fixture, fixture_frames):
    state, gold = run_pipeline(spark, fixture_frames)

    # fact: one row per transaction id (redelivered events folded)
    fact = gold["fact_transactions"]
    expected_txns = banking_fixture.expected_current["transactions"]
    assert fact.count() == len(expected_txns)

    # denormalized customer_id: every fact row resolves (no account is
    # deleted in compat mode) and matches the account->customer wiring
    assert fact.filter(F.col("customer_id").isNull()).count() == 0
    sample = fact.limit(20).collect()
    accounts = banking_fixture.expected_current["accounts"]
    for r in sample:
        assert int(r["customer_id"]) == accounts[int(r["account_id"])]["customer_id"]

    # transfers carry counterparties, others don't (related_account_id nulls)
    assert (
        fact.filter(
            (F.col("transaction_type") == "TRANSFER")
            & F.col("related_account_id").isNull()
        ).count()
        == 0
    )
    assert (
        fact.filter(
            (F.col("transaction_type") != "TRANSFER")
            & F.col("related_account_id").isNotNull()
        ).count()
        == 0
    )

    # SCD2 version counts per key match the golden check-strategy count
    dim = gold["dim_customers"]
    got = {
        int(r["customer_id"]): r["n"]
        for r in dim.groupBy("customer_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == banking_fixture.expected_versions["customers"]

    # current dim rows carry the latest images (equal-created_at tiebreak
    # resolved by ts_ms: the fnNx first_name must win)
    cur = {
        int(r["customer_id"]): r["first_name"]
        for r in dim.filter(F.col("is_current")).collect()
    }
    for cid, img in banking_fixture.expected_current["customers"].items():
        assert cur[cid] == img["first_name"]

    run_quality_suite(gold)


def test_fact_resolves_accounts_from_prior_batches(spark, fixture_frames):
    """A transaction whose account CDC image arrived in an EARLIER batch
    must still denormalize customer_id: the fact joins the cumulative
    account dimension (open SCD2 rows), not the batch-local staging.
    Batch 1 carries only customers+accounts, batch 2 only transactions —
    with a batch-local join every batch-2 fact would get NULL."""
    dims_batch = fixture_frames.filter(~F.col("topic").endswith(".transactions"))
    txn_batch = fixture_frames.filter(F.col("topic").endswith(".transactions"))
    state, _ = run_pipeline(spark, dims_batch)
    _, gold = run_pipeline(spark, txn_batch, state=state)
    fact = gold["fact_transactions"]
    assert fact.count() > 0
    assert fact.filter(F.col("customer_id").isNull()).count() == 0


def test_scd2_chains_are_contiguous(spark, fixture_frames):
    _, gold = run_pipeline(spark, fixture_frames)
    dim = gold["dim_accounts"]
    rows = dim.orderBy("account_id", "effective_from").collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["account_id"], []).append(r)
    for chain in by_key.values():
        assert sum(1 for r in chain if r["is_current"]) == 1
        for a, b in zip(chain, chain[1:]):
            assert a["effective_to"] == b["effective_from"]  # gap-free
        assert chain[-1]["effective_to"] is None


def test_incremental_second_batch(spark, banking_fixture, fixture_frames):
    """Split the event stream in two and run the pipeline twice — the
    final Gold must match the single-shot run (dbt's snapshot-then-
    incremental cadence, scd_snapshots.py:16)."""
    frames = fixture_frames.cache()
    half = frames.count() // 2
    # split on lsn embedded in the envelope (stable, not arrival order)
    lsn = F.get_json_object("value", "$.payload.source.lsn").cast("long")
    first = frames.filter(lsn <= half)
    second = frames.filter(lsn > half)

    state, _ = run_pipeline(spark, first)
    state, gold2 = run_pipeline(spark, second, state=state)
    _, gold_single = run_pipeline(spark, frames)

    def counts(df, keys):
        return sorted(tuple(r) for r in df.select(*keys).collect())

    assert counts(gold2["fact_transactions"], ["transaction_id", "amount"]) == counts(
        gold_single["fact_transactions"], ["transaction_id", "amount"]
    )
    # current rows agree with the goldens in both cadences
    cur2 = {
        int(r["customer_id"]): r["email"]
        for r in gold2["dim_customers"].filter(F.col("is_current")).collect()
    }
    for cid, img in banking_fixture.expected_current["customers"].items():
        assert cur2[cid] == img["email"]


def test_delete_propagation_full_mode(spark, banking_fixture, fixture_frames):
    """drop_deletes=False: a CDC tombstone closes the customer's open
    SCD2 version at the delete event time and leaves no current row,
    and removes a deleted transaction from the fact — the capability
    the reference's consumer silently lacks (kafka_to_minio.py:69)."""
    import datetime as dt

    from realtime_banking_cdc_pipeline_spark.schemas import KAFKA_FIXTURE_SCHEMA
    from realtime_banking_cdc_pipeline_spark.sources.fixtures import (
        BASE_MS,
        TOPIC_PREFIX,
        _envelope,
    )

    # a transaction created and then deleted (ids past the fixture's)
    txn = {
        "id": 9001, "account_id": 10, "txn_type": "DEPOSIT", "amount": 7.5,
        "related_account_id": None, "status": "COMPLETED", "created_at": BASE_MS * 1000,
    }

    def txn_frame(before, after, op, ms, lsn):
        value = _envelope("transactions", before, after, op, ms, lsn)
        row = (f"{TOPIC_PREFIX}.transactions", '{"id": 9001}', value, dt.datetime(2024, 1, 1))
        return spark.createDataFrame([row], schema=KAFKA_FIXTURE_SCHEMA)

    create = txn_frame(None, txn, "c", BASE_MS, 90001)
    delete = txn_frame(txn, None, "d", BASE_MS + 5, 90002)

    def txn_ids(gold):
        return {r["transaction_id"] for r in gold["fact_transactions"].collect()}

    state, gold = run_pipeline(spark, fixture_frames.union(create).union(delete), drop_deletes=False)
    assert txn_ids(gold) == {str(k) for k in banking_fixture.expected_current["transactions"]}
    # the delete arriving a batch after its create removes the fact row too
    state, _ = run_pipeline(spark, create, state=state, drop_deletes=False)
    _, later = run_pipeline(spark, delete, state=state, drop_deletes=False)
    assert "9001" not in txn_ids(later)
    # compat mode drops the delete envelope: the transaction stays
    _, compat = run_pipeline(spark, fixture_frames.union(create).union(delete))
    assert "9001" in txn_ids(compat)

    dim = gold["dim_customers"]

    deleted_cids = [
        cid
        for cid in banking_fixture.expected_versions["customers"]
        if cid % 10 == 0
    ]
    assert deleted_cids
    rows = dim.filter(F.col("customer_id").isin([str(c) for c in deleted_cids])).collect()
    by_cid: dict[str, list] = {}
    for r in rows:
        by_cid.setdefault(r["customer_id"], []).append(r)
    for cid in deleted_cids:
        chain = by_cid[str(cid)]
        # every version closed, none current
        assert all(not r["is_current"] for r in chain), chain
        # the final close time is the delete event time (created + 9s)
        delete_ts = dt.datetime.utcfromtimestamp((BASE_MS + cid * 1000 + 9000) / 1000)
        assert max(r["effective_to"] for r in chain) == delete_ts
        # version count matches the golden (delete closes, adds none)
        assert len(chain) == banking_fixture.expected_versions["customers"][cid]

    # compat mode still keeps deleted customers current (reference parity)
    _, gold_compat = run_pipeline(spark, fixture_frames, drop_deletes=True)
    cur = gold_compat["dim_customers"].filter(
        F.col("is_current") & F.col("customer_id").isin([str(c) for c in deleted_cids])
    )
    assert cur.count() == len(deleted_cids)


def test_decimal_money_mode(spark, banking_fixture, fixture_frames):
    """SURVEY §1.2 exact-decimal mode: money carried as DecimalType(18,2)
    end-to-end, fact sum equals the Python-Decimal golden exactly, and
    double_compat_view reproduces the reference's FLOAT shape."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, DoubleType

    from realtime_banking_cdc_pipeline_spark.plans.silver import double_compat_view

    _, gold = run_pipeline(spark, fixture_frames, decimal_money=True)
    fact = gold["fact_transactions"]
    amount_type = fact.schema["amount"].dataType
    assert amount_type == DecimalType(18, 2)

    got = fact.agg(F.sum("amount").alias("s")).collect()[0]["s"]
    want = sum(
        Decimal(str(t["amount"]))
        for t in banking_fixture.expected_current["transactions"].values()
    )
    assert got == want  # exact, order-independent — impossible with doubles

    compat = double_compat_view(fact, ["amount"])
    assert compat.schema["amount"].dataType == DoubleType()


def test_warm_batch_plans_within_round_trip_budget(spark, fixture_frames, monkeypatch):
    """One warm batch (``run_pipeline`` on the state of a previous
    batch: its plans, plus the three checkpoint jobs it runs, each one
    call) stays within a budget of py4j round trips.
    ``F.col("x").alias("y")`` costs 24 round trips against 8 for a
    3-column ``selectExpr``, so the layers are written as SQL select
    lists. Measured on this fixture: 4,016 round trips when the layers
    were Column trees, 541 as SQL strings, 573 with the checkpoints.
    Only this thread's calls count: py4j's finalizer thread releases
    JVM objects on its own schedule."""
    import threading

    import py4j.java_gateway

    state, _ = run_pipeline(spark, fixture_frames)  # warm-up batch
    me = threading.get_ident()
    calls = []
    send = py4j.java_gateway.GatewayClient.send_command

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counted)
    run_pipeline(spark, fixture_frames, state=state)
    monkeypatch.undo()
    assert len(calls) <= 1500, len(calls)


def _halves(frames):
    """The fixture split on the envelope's lsn: two batches of one log."""
    lsn = F.get_json_object("value", "$.payload.source.lsn").cast("long")
    half = frames.count() // 2
    return frames.filter(lsn <= half), frames.filter(lsn > half)


def test_backfill_materializes_each_state_table_once(spark, fixture_frames, tmp_path, jobs_run_by):
    """The merged snapshots and the state fact are checkpointed where
    they are built, so ``save`` and the quality suite scan them and
    re-run no Bronze→Silver→merge: 7 jobs to build, 3 to save (one
    write a table) and 11 for the six checks, on this fixture (the
    lazy chain ran 0, 8 and 21)."""
    (state, gold), built = jobs_run_by(
        lambda: run_pipeline(spark, fixture_frames, drop_deletes=False)
    )
    _, saved = jobs_run_by(lambda: state.save(str(tmp_path / "state")))
    _, checked = jobs_run_by(lambda: run_quality_suite(gold))
    assert (built, saved, checked) == (7, 3, 11)


def test_stream_batch_materializes_each_state_table_once(
    spark, fixture_frames, tmp_path, jobs_run_by
):
    """A stream batch as perfbench drives it: ``run_pipeline`` on the
    loaded state, the fact sink, ``save``, ``load``. The sink and
    ``save`` read the checkpoints instead of each re-running the
    accounts merge and the fact merge (on this fixture: 7, 2, 3 and 0
    jobs; the lazy chain ran 0, 5, 8 and 0)."""
    from realtime_banking_cdc_pipeline_spark.plans.materialize import materialize_incremental
    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState

    first, second = _halves(fixture_frames)
    state_dir, fact_dir = str(tmp_path / "state"), str(tmp_path / "fact")
    state, gold = run_pipeline(spark, first)
    materialize_incremental(spark, gold["fact_transactions"], fact_dir, unique_key="transaction_id")
    state.save(state_dir)
    state = MedallionState.load(spark, state_dir)

    (state, gold), built = jobs_run_by(lambda: run_pipeline(spark, second, state=state))
    _, sunk = jobs_run_by(
        lambda: materialize_incremental(
            spark, gold["fact_transactions"], fact_dir, unique_key="transaction_id"
        )
    )
    _, saved = jobs_run_by(lambda: state.save(state_dir))
    _, loaded = jobs_run_by(lambda: MedallionState.load(spark, state_dir))
    assert (built, sunk, saved, loaded) == (7, 2, 3, 0)


def test_checkpointed_gold_outlives_later_runs_until_release(spark, fixture_frames):
    """The checkpoints live as long as a frame reads them: a Gold dict
    held across two later runs, and across a replay into the same
    in-memory state, still reads the rows it read first. Until
    ``release_caches`` the checkpoints are live; it frees every one the
    runs took."""
    import gc

    from realtime_banking_cdc_pipeline_spark.caching import release_caches

    release_caches()
    jsc = spark.sparkContext._jsc
    base = set(jsc.getPersistentRDDs().keySet())
    first, second = _halves(fixture_frames)

    def rows(gold):
        return {name: sorted(map(tuple, df.collect())) for name, df in gold.items()}

    state, gold = run_pipeline(spark, first)
    want = rows(gold)
    state, _ = run_pipeline(spark, second, state=state)
    run_pipeline(spark, second, state=state)  # a replay into the same state
    run_pipeline(spark, fixture_frames)
    gc.collect()
    spark._jvm.System.gc()  # let the ContextCleaner see what is unreachable
    assert rows(gold) == want
    assert set(jsc.getPersistentRDDs().keySet()) - base  # the checkpoints they read
    release_caches()
    assert set(jsc.getPersistentRDDs().keySet()) <= base


def test_pipeline_at_10x_fixture_scale(spark):
    """Medallion pipeline on a 500-customer fixture (~26k events): the
    SCD2 merge and fact build stay shuffle-shaped (no quadratic
    behavior) and all invariants hold at 10x the default fixture."""
    import datetime as dt
    import time

    from realtime_banking_cdc_pipeline_spark.schemas import KAFKA_FIXTURE_SCHEMA
    from realtime_banking_cdc_pipeline_spark.sources import fixtures

    fx = fixtures.generate(n_customers=500)
    rows = [
        (t, k, v, dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(tzinfo=None))
        for t, k, v, ms in fixtures.to_kafka_rows(fx)
    ]
    frames = spark.createDataFrame(rows, schema=KAFKA_FIXTURE_SCHEMA)
    t0 = time.perf_counter()
    _, gold = run_pipeline(spark, frames)
    assert gold["fact_transactions"].count() == len(
        fx.expected_current["transactions"]
    )
    got = {
        int(r["customer_id"]): r["n"]
        for r in gold["dim_customers"]
        .groupBy("customer_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == fx.expected_versions["customers"]
    run_quality_suite(gold)
    elapsed = time.perf_counter() - t0
    assert elapsed < 120, f"pipeline took {elapsed:.1f}s at 10x fixture scale"


def test_gold_views_answer_reference_sql(spark, banking_fixture, fixture_frames):
    """A reference (dbt/Snowflake) user's SQL runs verbatim against the
    registered gold views — the switch-over contract."""
    from realtime_banking_cdc_pipeline_spark.plans.medallion import register_gold_views

    _, gold = run_pipeline(spark, fixture_frames)
    register_gold_views(gold)

    per_cust = spark.sql(
        """
        SELECT d.customer_id, COUNT(*) AS n_txns, ROUND(SUM(f.amount), 2) AS total
        FROM fact_transactions f
        JOIN dim_accounts a ON f.account_id = a.account_id AND a.is_current
        JOIN dim_customers d ON a.customer_id = d.customer_id AND d.is_current
        GROUP BY d.customer_id
        """
    )
    got_n = per_cust.agg(F.sum("n_txns").alias("s")).collect()[0]["s"]
    accounts = banking_fixture.expected_current["accounts"]
    live_customers = {a["customer_id"] for a in accounts.values()}
    txns = banking_fixture.expected_current["transactions"]
    expected_joined = sum(
        1 for t in txns.values()
        if accounts.get(t["account_id"], {}).get("customer_id") in live_customers
    )
    assert got_n == expected_joined
    assert per_cust.filter(F.col("total") <= 0).count() == 0


@pytest.mark.parametrize("drop_deletes", [True, False])
def test_corrupt_envelopes_are_quarantined_not_fatal(spark, fixture_frames, drop_deletes):
    """Malformed CDC payloads (garbage JSON, truncated envelopes, nulls)
    must not crash the pipeline or perturb results: PERMISSIVE parse
    yields null structs, which the bronze flatten drops — the Spark form
    of the reference's COPY ON_ERROR='CONTINUE'. In both Bronze modes:
    the full mode's ``coalesce(after, before)`` image must drop them
    too."""
    import datetime as dt

    from realtime_banking_cdc_pipeline_spark.schemas import KAFKA_FIXTURE_SCHEMA

    t = dt.datetime(2024, 1, 1)
    junk = spark.createDataFrame(
        [
            ("banking_server.public.customers", '{"id": 1}', "not json at all{{{", t),
            ("banking_server.public.transactions", None, '{"payload": 17}', t),
            ("banking_server.public.accounts", '{"id": 2}', '{"payload": {"op": "c"', t),
        ],
        schema=KAFKA_FIXTURE_SCHEMA,
    )
    clean_state, clean_gold = run_pipeline(spark, fixture_frames, drop_deletes=drop_deletes)
    dirty_state, dirty_gold = run_pipeline(
        spark, fixture_frames.unionByName(junk), drop_deletes=drop_deletes
    )

    for name in ("fact_transactions", "dim_customers", "dim_accounts"):
        a = sorted(map(tuple, clean_gold[name].drop("load_timestamp").collect()))
        b = sorted(map(tuple, dirty_gold[name].drop("load_timestamp").collect()))
        assert a == b, name
    run_quality_suite(dirty_gold)


def test_read_csv_tolerant_quarantines_bad_rows(spark, tmp_path):
    """PERMISSIVE CSV read: well-formed rows parse, malformed rows land
    in _corrupt_record instead of failing the load — the same
    ON_ERROR='CONTINUE' contract the Bronze envelope parse keeps."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from realtime_banking_cdc_pipeline_spark.sources.parquet_io import (
        read_csv_tolerant,
    )

    p = tmp_path / "landing.csv"
    p.write_text(
        "id,name,amount\n"
        "1,alice,100\n"
        "oops_not_a_long,bob,200\n"
        "3,carol,300\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("amount", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv_tolerant(spark, str(p), schema).cache()
    good = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert {r.id for r in good.collect()} == {1, 3}
    assert bad.count() == 1
    assert "oops_not_a_long" in bad.collect()[0]._corrupt_record
