"""Per-layer tracing for the benchmark's traced run.

Spans are taken from outside the program: ``instrument`` swaps the
public functions each layer exposes (as ``plans.medallion`` looks them
up) for wrappers that tag the layer's Spark jobs with a job group,
force the layer's output at its boundary (``cache`` + ``count``), so
its work runs inside its own span, and record row counts there. The
untraced run never calls ``instrument``; the difference between the two
is the tracing overhead.

Spark engine counters come from the event log, which only the traced
run enables: every job carries its layer's job group, and task metrics
are summed per group. Jobs the tracer itself adds to count rows run
under the ``trace`` group, which no layer claims.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from realtime_banking_cdc_pipeline_spark.plans import medallion
from realtime_banking_cdc_pipeline_spark.sources.cdc import parse_envelope

# Layers named after the package modules they wrap; each gets the
# engine counters below.
COUNTER_LAYERS = ("ingest", "bronze", "silver", "scd2", "gold", "state", "quality", "query")
COUNTERS = ("jobs", "tasks", "executor_s", "shuffle_write_mb", "spill_mb", "gc_s")


class Tracer:
    """Spans and counts of one run, kept in memory until it ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.cached: list = []
        self._group: list[str] = []

    @contextmanager
    def span(self, layer: str):
        self._group.append(layer)
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.perf_counter()))
            self._group.pop()
            if self._group:
                self.sc.setJobGroup(self._group[-1], self._group[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    def force(self, df) -> int:
        """Materialize ``df`` at a layer boundary; kept until ``release``."""
        self.cached.append(df.cache())
        return df.count()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def seconds(self, layer: str) -> list[float]:
        return [t1 - t0 for name, t0, t1 in self.spans if name == layer]

    def median_s(self, layer: str) -> float:
        s = self.seconds(layer)
        return statistics.median(s) if s else 0.0


def instrument(tracer: Tracer):
    """Wrap the medallion layers' public functions; returns an undo."""
    saved = {
        name: getattr(medallion, name)
        for name in (
            "bronze_from_kafka_frames",
            "run_silver",
            "run_snapshots",
            "run_gold",
            "expect_empty",
        )
    }
    saved_save = medallion.MedallionState.save
    saved_load = medallion.MedallionState.load.__func__

    def bronze(frames, drop_deletes=True):
        with tracer.span("bronze"):
            out = saved["bronze_from_kafka_frames"](frames, drop_deletes=drop_deletes)
            for df in out.values():
                tracer.add("bronze.rows_out", tracer.force(df))
        with tracer.span("trace"):
            tracer.add("bronze.rows_in", frames.count())
            for table in out:
                raw = frames.filter(F.col("topic").endswith("." + table))
                tracer.add(
                    "bronze.unparsed_rows",
                    parse_envelope(raw, table).filter(F.col("op").isNull()).count(),
                )
        return out

    def silver(bronze_tables, decimal_money=False):
        with tracer.span("silver"):
            out = saved["run_silver"](bronze_tables, decimal_money=decimal_money)
            n = {name: tracer.force(df) for name, df in out.items()}
        tracer.add("silver.rows_out", n["customers"] + n["accounts"] + n["transactions"])
        tracer.add("silver.latest_rows", n["customers"] + n["accounts"])
        tracer.add("scd2.images_in", n["customers_images"] + n["accounts_images"])
        tracer.add("gold.batch_rows", n["transactions"])
        return out

    def snapshots(state, silver_tables):
        with tracer.span("trace"):
            prior = sum(df.count() for df in state.snapshots.values() if df is not None)
        with tracer.span("scd2"):
            state = saved["run_snapshots"](state, silver_tables)
            total = sum(tracer.force(df) for df in state.snapshots.values())
        tracer.add("scd2.versions_total", total)
        tracer.add("scd2.versions_opened", total - prior)
        return state

    def gold(state, silver_tables):
        with tracer.span("gold"):
            out = saved["run_gold"](state, silver_tables)
            tracer.add("gold.fact_rows", tracer.force(state.fact))
        return out

    def expect_empty(df, name, sample=5):
        tracer.add("quality.checks", 1)
        try:
            saved["expect_empty"](df, name, sample)
        except AssertionError:
            tracer.add("quality.failed", 1)
            raise

    def save(self, base_dir):
        with tracer.span("state.save"):
            saved_save(self, base_dir)
        files, size = dir_usage(base_dir)
        tracer.add("state.files", files)
        tracer.add("state.bytes", size)

    def load(cls, spark, base_dir):
        with tracer.span("state.load"):
            return saved_load(cls, spark, base_dir)

    medallion.bronze_from_kafka_frames = bronze
    medallion.run_silver = silver
    medallion.run_snapshots = snapshots
    medallion.run_gold = gold
    medallion.expect_empty = expect_empty
    medallion.MedallionState.save = save
    medallion.MedallionState.load = classmethod(load)

    def undo() -> None:
        for name, fn in saved.items():
            setattr(medallion, name, fn)
        medallion.MedallionState.save = saved_save
        medallion.MedallionState.load = classmethod(saved_load)

    return undo


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def event_log_counters(log_dir: str, group_layer) -> dict[str, float]:
    """Sum task metrics per layer from the Spark event log(s) in
    ``log_dir``. ``group_layer`` maps a job group id to a layer name
    (or None to skip the job)."""
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    out: dict[str, float] = {f"{l}.{c}": 0.0 for l in COUNTER_LAYERS for c in COUNTERS}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    layer = group_layer(props.get("spark.jobGroup.id"))
                    if layer is None:
                        continue
                    job_layer[ev["Job ID"]] = layer
                    for sid in ev["Stage IDs"]:
                        stage_layer[sid] = layer
                    out[f"{layer}.jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    out[f"{layer}.tasks"] += 1
                    out[f"{layer}.executor_s"] += m["Executor Run Time"] / 1000
                    out[f"{layer}.gc_s"] += m["JVM GC Time"] / 1000
                    out[f"{layer}.shuffle_write_mb"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    )
                    out[f"{layer}.spill_mb"] += (
                        m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    ) / 2**20
    return out

