"""Self-tests of the benchmark at tiny scale.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen_cdc  # noqa: E402
from perfbench.gates import cdc_mismatches  # noqa: E402
from perfbench.run import WORKLOADS, read_landing, write_landing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_generator_is_prefix_stable():
    short, full = gen_cdc.generate(30, 5, updates_per_tick=3), gen_cdc.generate(45, 5, updates_per_tick=3)
    assert short.events == full.events[: full.ticks[29]]
    assert short.ticks == full.ticks[:30]


def test_generator_covers_the_fixture_edge_cases():
    log = gen_cdc.generate(60, 2, updates_per_tick=2)
    values = [json.loads(e.value)["payload"] for e in log.events]
    assert len(log.events) > len({(e.key, e.value) for e in log.events})  # redelivery
    assert log.deleted and any(p["op"] == "d" for p in values)
    txn_ms = [p["ts_ms"] for p in values if p["source"]["table"] == "transactions"]
    assert any(b < a for a, b in zip(txn_ms, txn_ms[1:]))  # out of order
    updates = [p for p in values if p["op"] == "u" and p["source"]["table"] == "customers"]
    assert any(p["before"] == p["after"] for p in updates)  # no-op update
    stamps = [(p["after"]["id"], p["ts_ms"]) for p in updates]
    assert len(stamps) > len(set(stamps))  # equal-timestamp updates of one key


@pytest.fixture(scope="module")
def spark():
    from realtime_banking_cdc_pipeline_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)


def _frames(spark, tmp_path, name, events):
    d = str(tmp_path / name)
    write_landing(events, d)
    return read_landing(spark, d)


def test_goldens_match_the_program(spark, tmp_path):
    """Backfill then a second incremental batch, as the benchmark runs
    them, land exactly on the generator's goldens; the fixture's goldens
    pass the same gate."""
    from realtime_banking_cdc_pipeline_spark.plans.materialize import materialize_incremental
    from realtime_banking_cdc_pipeline_spark.plans.medallion import MedallionState, run_pipeline
    from realtime_banking_cdc_pipeline_spark.sources import fixtures

    log = gen_cdc.generate(60, 9, updates_per_tick=3)
    head = gen_cdc.generate(30, 9, updates_per_tick=3)
    state_dir, fact_dir = str(tmp_path / "state"), str(tmp_path / "fact")

    state, _ = run_pipeline(spark, _frames(spark, tmp_path, "head", head.events), drop_deletes=False)
    state.save(state_dir)
    assert cdc_mismatches(state_dir, None, head, set(head.expected_current["customers"])) == []

    tail = _frames(spark, tmp_path, "tail", log.events[log.ticks[29] :])
    state, gold = run_pipeline(spark, tail, state=MedallionState.load(spark, state_dir))
    materialize_incremental(spark, gold["fact_transactions"], fact_dir, unique_key="transaction_id")
    state.save(state_dir)
    current = set(log.expected_versions["customers"]) - head.deleted
    assert cdc_mismatches(state_dir, fact_dir, log, current) == []

    fx = fixtures.generate(n_customers=20)
    fx_dir = str(tmp_path / "fx_state")
    state, _ = run_pipeline(spark, _frames(spark, tmp_path, "fx", fx.events), drop_deletes=False)
    state.save(fx_dir)
    assert cdc_mismatches(fx_dir, None, fx, set(fx.expected_current["customers"])) == []


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_the_spec(trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_stream", "--seed", "1",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    notes = "\n".join(line for line in out.stderr.splitlines() if line.startswith("perfbench:"))
    assert out.returncode == 0, notes
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_stream", "--seed", "1",
         "--seconds", "2", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
