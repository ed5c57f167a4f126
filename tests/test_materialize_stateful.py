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


_STATE_TABLES = ("fact_state", "snapshot_customers", "snapshot_accounts")


def _rows(df):
    return sorted(map(repr, df.collect()))


def _saved_rows(spark, d):
    return {t: _rows(spark.read.parquet(f"{d}/{t}")) for t in _STATE_TABLES}


def _state_tables(state):
    tables = {"fact_state": state.fact}
    tables.update((f"snapshot_{t}", df) for t, df in state.snapshots.items())
    return tables


def _loaded_rows(state):
    return {t: df if df is None else _rows(df) for t, df in _state_tables(state).items()}


def _two_saves(spark, fixture_frames, first_dir, second_dir=None):
    """Run the fixture in two halves (split on the envelope lsn), saving
    the first half's state to ``first_dir``; return the second half's
    state, also saved to ``second_dir`` when one is given."""
    from realtime_banking_cdc_pipeline_spark.plans.medallion import (
        MedallionState,
        run_pipeline,
    )

    lsn = F.get_json_object("value", "$.payload.source.lsn").cast("long")
    half = fixture_frames.count() // 2
    state, _ = run_pipeline(spark, fixture_frames.filter(lsn <= half))
    state.save(first_dir)
    state, _ = run_pipeline(
        spark, fixture_frames.filter(lsn > half), state=MedallionState.load(spark, first_dir)
    )
    if second_dir:
        state.save(second_dir)
    return state


def test_load_repairs_interrupted_swap(spark, fixture_frames, tmp_path):
    """A save cut after its staging commit (``<state>__staging/_SUCCESS``)
    but before the promotion finished leaves ``<state>`` gone or
    half-deleted: ``load`` finishes the promotion and returns the staged
    rows of all three tables. A save cut before its commit leaves a
    partial staging dir: ``load`` drops it and returns the saved rows."""
    import os

    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState

    saved, nxt = str(tmp_path / "saved"), str(tmp_path / "next")
    _two_saves(spark, fixture_frames, saved, nxt)
    assert os.path.exists(f"{nxt}/_SUCCESS")
    want_saved, want_next = _saved_rows(spark, saved), _saved_rows(spark, nxt)
    assert want_saved != want_next

    for i, cut in enumerate(("", "/snapshot_accounts")):
        d = str(tmp_path / f"committed{i}")
        shutil.copytree(saved, d)
        shutil.copytree(nxt, f"{d}__staging")
        shutil.rmtree(d + cut)  # the promotion's delete of <state>, cut short or not
        assert _loaded_rows(MedallionState.load(spark, d)) == want_next
        assert not os.path.exists(f"{d}__staging")

    d = str(tmp_path / "partial")
    shutil.copytree(saved, d)
    shutil.copytree(f"{nxt}/fact_state", f"{d}__staging/fact_state")
    assert _loaded_rows(MedallionState.load(spark, d)) == want_saved
    assert not os.path.exists(f"{d}__staging")


def test_save_is_all_or_nothing(spark, fixture_frames, tmp_path, monkeypatch):
    """A save killed after some of its table writes leaves the previous
    save whole: ``load`` returns the first half's rows for all three
    tables, never the new fact beside the old snapshots."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState

    d = str(tmp_path / "state")
    state = _two_saves(spark, fixture_frames, d)
    want = _saved_rows(spark, d)
    assert state.fact.count() > len(want["fact_state"])

    write, calls = DataFrameWriter.parquet, []

    def killed_on_second_table(self, path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("killed mid-save")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", killed_on_second_table)
    with pytest.raises(RuntimeError, match="killed mid-save"):
        state.save(d)
    monkeypatch.undo()
    assert _loaded_rows(MedallionState.load(spark, d)) == want


def test_load_reads_the_schemas_its_save_committed(
    spark, fixture_frames, tmp_path, jobs_run_by
):
    """``save`` records each table's schema in the commit marker, so
    ``load`` resolves the state without an inference job, to the schema
    and rows an inferring read returns."""
    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState

    d = str(tmp_path / "state")
    _two_saves(spark, fixture_frames, d)
    state, n = jobs_run_by(lambda: MedallionState.load(spark, d))
    assert n == 0
    for t, df in _state_tables(state).items():
        assert df.schema == spark.read.parquet(f"{d}/{t}").schema, t
    assert _loaded_rows(state) == _saved_rows(spark, d)


def test_load_repairs_and_reads_the_marker_once(spark, fixture_frames, tmp_path, monkeypatch):
    """``load`` reads its three tables through one staged-commit repair
    and one read of the commit marker."""
    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState
    from realtime_banking_cdc_pipeline_spark.sources import parquet_io

    d = str(tmp_path / "state")
    _two_saves(spark, fixture_frames, d)
    calls = []

    def counted(name):
        fn = getattr(parquet_io, name)

        def call(*args):
            calls.append(name)
            return fn(*args)

        return call

    for name in ("_recover", "_marker_schemas"):
        monkeypatch.setattr(parquet_io, name, counted(name))
    state = MedallionState.load(spark, d)
    assert sorted(calls) == ["_marker_schemas", "_recover"]
    assert _loaded_rows(state) == _saved_rows(spark, d)


def test_load_infers_a_state_whose_marker_is_empty(spark, fixture_frames, tmp_path):
    """A state committed before markers carried schemas (an empty
    ``_SUCCESS``) still loads, by inferring each table's schema."""
    import os

    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState

    d = str(tmp_path / "state")
    _two_saves(spark, fixture_frames, d)
    assert os.path.getsize(f"{d}/_SUCCESS") > 0
    open(f"{d}/_SUCCESS", "w").close()
    assert _loaded_rows(MedallionState.load(spark, d)) == _saved_rows(spark, d)


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
    """``write_staged`` publishes a set of tables with one marker and one
    rename, so a crash at any point is repairable: the old set or the
    committed new one is always whole on disk."""
    import os

    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState
    from realtime_banking_cdc_pipeline_spark.sources.parquet_io import (
        read_staged,
        recover_swap,
        write_staged,
    )

    p = str(tmp_path / "t")
    staging = p + "__staging"

    def staged(rows, committed=True):
        spark.range(rows).write.parquet(f"{staging}/a")
        if committed:
            open(f"{staging}/_SUCCESS", "w").close()

    def count(name):
        return spark.read.parquet(f"{p}/{name}").count()

    # happy path: both tables and the root marker land, staging is gone
    write_staged(p, {"a": spark.range(10), "b": spark.range(5)})
    assert (count("a"), count("b")) == (10, 5)
    assert os.path.exists(f"{p}/_SUCCESS") and not os.path.exists(staging)
    assert recover_swap(spark, p) == "intact"

    # committed staging, path still present (cut before the delete): the
    # committed set replaces the whole old set
    staged(20)
    assert recover_swap(spark, p) == "promoted_staging"
    assert count("a") == 20 and read_staged(spark, p, "b")["b"] is None

    # committed staging, path half-deleted, then gone
    staged(30)
    shutil.rmtree(f"{p}/a")
    assert recover_swap(spark, p) == "promoted_staging"
    assert count("a") == 30
    staged(40)
    shutil.rmtree(p)
    assert recover_swap(spark, p) == "promoted_staging"
    assert count("a") == 40

    # staging cut during its writes (no _SUCCESS): dropped, old set intact
    staged(50, committed=False)
    assert recover_swap(spark, p) == "intact"
    assert count("a") == 40 and not os.path.exists(staging)

    # nothing anywhere; saving nothing writes nothing
    shutil.rmtree(p)
    assert recover_swap(spark, p) == "missing"
    assert read_staged(spark, p)[""] is None
    write_staged(p, {})
    MedallionState.empty().save(p)
    assert not os.path.exists(p) and not os.path.exists(staging)
