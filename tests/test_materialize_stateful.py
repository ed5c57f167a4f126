"""C5 incremental materialization, crash repair of durable state, and
the custom stateful streaming operator."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from realtime_banking_cdc_pipeline_spark.plans.materialize import (
    materialize_incremental,
)


def test_view_table_incremental_cycle(spark):
    """Incremental materialization: first run CTAS, second run
    upserts, a re-applied batch is a no-op."""
    d = tempfile.mkdtemp(prefix="mat_")
    try:
        b1 = spark.range(5).select(F.col("id"), F.lit(1).alias("ver"))
        materialize_incremental(spark, b1, f"{d}/inc", "id")
        assert spark.read.parquet(f"{d}/inc").count() == 5
        b2 = spark.range(3, 8).select(F.col("id"), F.lit(2).alias("ver"))
        materialize_incremental(spark, b2, f"{d}/inc", "id")
        got = {r["id"]: r["ver"] for r in spark.read.parquet(f"{d}/inc").collect()}
        assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 2, 6: 2, 7: 2}
        # re-applying the same batch is a no-op (idempotent retries, C4)
        materialize_incremental(spark, b2, f"{d}/inc", "id")
        assert {
            r["id"]: r["ver"] for r in spark.read.parquet(f"{d}/inc").collect()
        } == got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_load_repairs_interrupted_swap(spark, fixture_frames, tmp_path):
    """A crash between the two renames of ``swap_into_place`` leaves a
    state table absent with its data beside it (``__old``, or a
    committed ``__staging``). ``MedallionState.load`` must repair the
    swap and load the saved rows, not start that table from empty."""
    import os

    from realtime_banking_cdc_pipeline_spark.plans.medallion import (
        MedallionState,
        run_pipeline,
    )

    saved = str(tmp_path / "saved")
    state, _ = run_pipeline(spark, fixture_frames)
    state.save(saved)

    def rows(df):
        return sorted(map(repr, df.collect()))

    want = {
        t: rows(spark.read.parquet(f"{saved}/{t}"))
        for t in ("snapshot_accounts", "fact_state")
    }

    # swap cut between its renames, no committed staging left: the
    # retired copy is restored
    d1 = str(tmp_path / "old_only")
    shutil.copytree(saved, d1)
    os.rename(f"{d1}/snapshot_accounts", f"{d1}/snapshot_accounts__old")
    loaded = MedallionState.load(spark, d1)
    assert loaded.snapshots["accounts"] is not None
    assert rows(loaded.snapshots["accounts"]) == want["snapshot_accounts"]
    assert not os.path.exists(f"{d1}/snapshot_accounts__old")

    # swap cut between its renames after the staging write committed:
    # the new copy is promoted
    d2 = str(tmp_path / "staged_only")
    shutil.copytree(saved, d2)
    os.rename(f"{d2}/fact_state", f"{d2}/fact_state__staging")
    assert os.path.exists(f"{d2}/fact_state__staging/_SUCCESS")
    loaded = MedallionState.load(spark, d2)
    assert loaded.fact is not None
    assert rows(loaded.fact) == want["fact_state"]
    assert not os.path.exists(f"{d2}/fact_state__staging")


def _drain(q, done, timeout=120):
    """Wait until the query self-terminates or ``done()`` sees the
    expected sink rows, then stop it. A ProcessingTimeTimeout stateful
    query never self-terminates under availableNow — poll-then-stop is
    the bounded way to run it."""
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if q.awaitTermination(2):
            return
        if done():
            q.stop()
            q.awaitTermination(60)
            return
    q.stop()
    raise AssertionError(f"stream produced no expected rows within {timeout}s")


def test_stateful_running_balances(spark):
    import tempfile as tf

    from realtime_banking_cdc_pipeline_spark.streaming.stateful import running_balances

    src = tf.mkdtemp(prefix="txns_")
    spark.createDataFrame(
        [(1, "DEPOSIT", 100.0), (1, "WITHDRAWAL", 30.0), (2, "DEPOSIT", 50.0)],
        "account_id long, txn_type string, amount double",
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "account_id long, txn_type string, amount double"
    ).parquet(src)
    # ttl_ms=None → NoTimeout → the availableNow run self-terminates.
    q = (
        running_balances(stream, ttl_ms=None)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("balances_out")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "NoTimeout availableNow run should self-terminate"
    got = {
        r["account_id"]: (r["running_balance"], r["n_txns"])
        for r in spark.sql("SELECT * FROM balances_out").collect()
    }
    assert got == {1: (70.0, 2), 2: (50.0, 1)}


def test_stateful_ttl_mode_poll_stop(spark):
    """Production TTL mode (ProcessingTimeTimeout). Such a query stays up
    under availableNow waiting to fire timeouts; poll the sink for the
    expected rows and stop() — bounded in seconds, not awaitTermination(300)."""
    import tempfile as tf

    from realtime_banking_cdc_pipeline_spark.streaming.stateful import running_balances

    src = tf.mkdtemp(prefix="txns_ttl_")
    spark.createDataFrame(
        [(1, "DEPOSIT", 10.0), (2, "WITHDRAWAL", 4.0)],
        "account_id long, txn_type string, amount double",
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "account_id long, txn_type string, amount double"
    ).parquet(src)
    q = (
        running_balances(stream)  # default TTL → ProcessingTimeTimeout
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("balances_ttl_out")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, lambda: spark.sql("SELECT * FROM balances_ttl_out").count() >= 2)
    got = {
        r["account_id"]: r["running_balance"]
        for r in spark.sql("SELECT * FROM balances_ttl_out").collect()
    }
    assert got == {1: 10.0, 2: -4.0}


def test_stateful_balances_accumulate_across_restarts(spark):
    """Checkpointed applyInPandasWithState: state survives a stream
    restart, so balances accumulate over batches arriving while down."""
    import tempfile as tf

    from realtime_banking_cdc_pipeline_spark.streaming.stateful import running_balances

    src = tf.mkdtemp(prefix="txns2_")
    ckpt = tf.mkdtemp(prefix="txns2_ckpt_")
    emitted: list[tuple] = []

    def run():
        stream = spark.readStream.schema(
            "account_id long, txn_type string, amount double"
        ).parquet(src)

        # memory sink can't recover from a checkpoint; foreachBatch can
        def sink(df, epoch):
            emitted.extend(
                (r["account_id"], r["running_balance"], r["n_txns"])
                for r in df.collect()
            )

        q = (
            running_balances(stream, ttl_ms=None)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "NoTimeout availableNow run should self-terminate"

    spark.createDataFrame(
        [(1, "DEPOSIT", 100.0)], "account_id long, txn_type string, amount double"
    ).write.mode("append").parquet(src)
    run()
    spark.createDataFrame(
        [(1, "WITHDRAWAL", 25.0)], "account_id long, txn_type string, amount double"
    ).write.mode("append").parquet(src)
    run()
    assert (1, 100.0, 1) in emitted  # first run's state
    assert (1, 75.0, 2) in emitted  # resumed state accumulated, not reset


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """Small-file maintenance: many per-batch appends collapse to
    ceil(rows/target) files with identical data."""
    import glob

    from realtime_banking_cdc_pipeline_spark.sources.parquet_io import compact_parquet

    p = str(tmp_path / "frag")
    for i in range(12):  # 12 tiny appends, several files each
        spark.range(i * 100, (i + 1) * 100).repartition(3).write.mode(
            "append"
        ).parquet(p)
    before_files = len(glob.glob(f"{p}/*.parquet"))
    before = sorted(r["id"] for r in spark.read.parquet(p).collect())

    n_files = compact_parquet(spark, p, target_records_per_file=500)
    after_files = len(glob.glob(f"{p}/*.parquet"))
    assert n_files == 3  # 1200 rows / 500
    assert after_files == 3 < before_files
    assert sorted(r["id"] for r in spark.read.parquet(p).collect()) == before
    assert not glob.glob(f"{p}__staging*")  # staging cleaned up
    assert not glob.glob(f"{p}__old*")  # retired copy cleaned up


def test_gen_sf_amplification_preserves_structure(tmp_path):
    """The scale-factor amplifier (tools/gen_sf.py) must preserve what
    makes the benchmark meaningful: row counts scale by the factor,
    fixed dims don't, and every FK still resolves (key offsets move
    whole key spaces together)."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "gen_sf", "/root/repo/tools/gen_sf.py"
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)

    out = str(tmp_path / "sf_amp")
    src = "/root/testdata/sf0.1"
    gen_sf.SRC = src  # default already; explicit for clarity
    gen_sf.amplify(2, out)

    con = duckdb.connect()

    def cnt(path, t):
        return con.execute(f"SELECT COUNT(*) FROM '{path}/{t}.parquet'").fetchone()[0]

    for t in gen_sf.KEYED:
        assert cnt(out, t) == 2 * cnt(src, t), t
    for t in gen_sf.COPY_ONCE:
        assert cnt(out, t) == cnt(src, t), t
    # FK integrity after offsetting
    for fk, pk in [
        ("orders.o_custkey", "customer.c_custkey"),
        ("lineitem.l_orderkey", "orders.o_orderkey"),
        ("lineitem.l_partkey", "part.p_partkey"),
        ("lineitem.l_suppkey", "supplier.s_suppkey"),
    ]:
        ft, fc = fk.split(".")
        pt, pc = pk.split(".")
        orphans = con.execute(
            f"SELECT COUNT(*) FROM '{out}/{ft}.parquet' f "
            f"WHERE NOT EXISTS (SELECT 1 FROM '{out}/{pt}.parquet' p "
            f"WHERE p.{pc} = f.{fc})"
        ).fetchone()[0]
        assert orphans == 0, fk
    # keys stay unique per replica-offset space
    assert (
        con.execute(
            f"SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM '{out}/orders.parquet'"
        ).fetchone()[0]
        == 0
    )


def test_swap_recovery_from_every_interrupted_state(spark, tmp_path):
    """Rename-based table swap: a crash at any point between staging
    write and final promotion is repairable — the old or new table is
    always intact on disk (r2 advisor: the overwrite-in-place rewrite
    could truncate the target)."""
    import shutil

    from realtime_banking_cdc_pipeline_spark.sources.parquet_io import (
        recover_swap,
        swap_into_place,
    )

    p = str(tmp_path / "t")

    def reset(rows):
        shutil.rmtree(p, ignore_errors=True)
        spark.range(rows).write.mode("overwrite").parquet(p)

    # happy path: staging promotes, old copy gone
    reset(10)
    spark.range(100, 120).write.parquet(p + "__staging")
    swap_into_place(spark, p + "__staging", p)
    assert spark.read.parquet(p).count() == 20
    assert recover_swap(spark, p) == "intact"

    # crash BETWEEN the two renames: path absent, old + committed
    # staging both present -> the new data wins
    spark.range(200, 230).write.parquet(p + "__staging")
    shutil.move(p, p + "__old")
    assert recover_swap(spark, p) == "promoted_staging"
    assert spark.read.parquet(p).count() == 30

    # crash DURING the staging write (no _SUCCESS): old table restored
    spark.range(300, 305).write.parquet(p + "__staging")
    (tmp_path / "t__staging" / "_SUCCESS").unlink()
    shutil.move(p, p + "__old")
    assert recover_swap(spark, p) == "restored_old"
    assert spark.read.parquet(p).count() == 30

    # nothing anywhere
    shutil.rmtree(p)
    assert recover_swap(spark, p) == "missing"
