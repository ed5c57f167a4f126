"""The repository's benchmark: CDC-to-Gold freshness, backfill time and
query latency, checked against goldens and DuckDB oracles.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 20 --trace 0

Every run is one deployment's life, in three timed sides:

- backfill: set-up lands the first ``history_ticks`` ticks of a seeded
  CDC log as Kafka-framed JSONL (the reference's raw landing zone); the
  program reads it with ``spark.read`` and runs
  ``run_pipeline(drop_deletes=False)`` from empty state ->
  ``MedallionState.save`` -> ``run_quality_suite``;
- stream: the rest of the log arrives as an open loop. A generator
  thread drops one tick per JSONL file into the file source on a fixed
  schedule, stamping each frame's ``ts`` at creation like a broker
  append time; the program runs ``read_fixture_stream`` ->
  ``with_stream_dedup`` -> ``start_pipeline_stream`` (processing-time
  trigger) and, per micro-batch, ``run_pipeline`` ->
  ``materialize_incremental`` of the fact -> ``MedallionState.save`` /
  ``load``, starting from the durable state the backfill wrote;
- queries: a closed loop with one client over a seeded order of
  registry queries on seeded tables, each built and executed into the
  noop sink. An untimed first pass warms the query paths, as in a
  long-running session, and collects each output for its oracle gate;
  timed passes follow.

The generator runs for ``STREAM_SHARE`` of ``--seconds``; the timed
query loop runs whole passes until ``QUERY_SHARE`` of it is up. The
workload sets the log's size and update rate and the stream's rate (see
``WORKLOADS``). Every run reports every metric, so each is compared per
workload with the parent.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run
(``tracing.py``). Per-layer times are medians per call, counts are
totals over the measured phases, and engine counters are totals per
layer. ``trace.backfill_overhead_s`` is the traced backfill minus an
equally warm untraced backfill in the same session: it covers the
backfill only, and since the traced session logs events for both, it
leaves out the cost of event logging.

Every end-to-end time is wall time with the hypervisor's steal taken
out (``unstolen_s``): on a shared host the neighbours' load changes from
run to run and would otherwise set most of the spread.
``host.steal_frac`` reports the share that was taken out.

Correctness gates run after the measured phases: durable Gold and state
against the generator's goldens after the backfill and the stream, and
every query's output from the untimed pass against its DuckDB oracle. A
mismatch counts as a failed operation and makes the command exit
non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_banking_cdc_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

# The 16 bench-flagged registry queries of the read side. A warm pass of
# the LLM-data queries takes 15-20 s on a 4-core host, more than a stream
# phase, and a run executes each query twice (untimed, then timed), so
# untraced runs time the analytics queries and the traced run times and
# checks all 16.
ANALYTICS_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "j1_fact_dim_join",
    "j2_two_hop_join",
    "w1_dedup_latest",
    "c1_scd2_replay",
    "asof_last_view_before_purchase",
    "w_sessionize",
    "a5_zscore_anomalies",
    "s_tumbling_window_agg",
)
LLM_DATA_QUERIES = (
    "x_minhash_signature",
    "x_dedup_keep_best",
    "x_tfidf_cosine_pairs",
    "x_semdedup",
    "x_bm25_search",
    "x_corpus_pipeline_v4",
)


@dataclass(frozen=True)
class Mix:
    history_ticks: int  # landed log backfilled into Gold; one new customer per tick
    updates_per_tick: int  # customer update chains every third tick
    stream_ticks_per_s: float  # offered rate, one file per tick


QUERY_SCALE = 0.1  # 1.0 = 60k lineitems; the read side is per-job bound
WORKLOADS = {
    # Traced on a 4-core host, each layer call runs the same 5-9 Spark
    # jobs in both workloads, and their fixed cost sets most layer times.
    # A small state (3k SCD2 versions): freshness is two micro-batches of
    # merge, incremental sink and whole-state rewrite.
    "cdc_stream": Mix(200, 1, 8.0),
    # 8x the update chains, 4x the events, 6x the change images: Silver
    # keeps 23% of them (57% above) and is the layer whose time grows
    # with them; the stream's batches rewrite a 3x larger state.
    "cdc_backfill": Mix(600, 8, 4.0),
}
STREAM_SHARE = 0.6  # of --seconds: open-loop generator time
QUERY_SHARE = 0.4  # of --seconds: timed closed-loop time, in whole passes
SETUP_REPS = 2
STREAM_DRAIN_S = 60.0
LANDING_SHARDS = 4
RSS_INTERVAL_S = 0.25


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment() -> dict[str, str]:
    """Set the variables the program reads before Spark starts; all
    scratch space stays under the checkout."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(1536, phys_mb // 2)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def pct(values: list[float], q: float, weights: list[int] | None = None) -> float:
    """Nearest-rank percentile (``q`` in [0, 1]), optionally weighted."""
    pairs = sorted(zip(values, weights or [1] * len(values)))
    total = sum(w for _, w in pairs)
    rank = max(1, round(q * total + 0.5 - 1e-9)) if q < 1 else total
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def stamp() -> tuple[float, int, int]:
    """Now, with this machine's busy and stolen CPU ticks so far
    (``/proc/stat``: user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return time.perf_counter(), t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def unstolen_s(a, b) -> float:
    """Seconds from stamp ``a`` to stamp ``b`` without the hypervisor's
    steal. A vCPU accrues steal only while it wants to run, so
    busy / (busy + stolen) is the share of its wanted CPU time the
    machine got; the wall time scaled by it is what the interval would
    have taken on an uncontended host."""
    wall, busy, stolen = b[0] - a[0], b[1] - a[1], b[2] - a[2]
    return wall * busy / (busy + stolen) if stolen else wall


def tree_pss_mb() -> float:
    """Proportional resident memory (PSS) of this process and all its
    descendants: forked Python workers share pages with their parent,
    which a sum of RSS would count once per process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total_kb = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Peak of the process tree's memory, sampled in a thread
    (short-lived Python workers leave no high-water mark behind)."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Run:
    """One benchmark run: session, inputs, phases, gates, metrics."""

    def __init__(self, args, env):
        self.args = args
        self.env = env
        self.mix = WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.tracer = None
        self.gates: list = []

    # -- bookkeeping ---------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracer else nullcontext()

    # -- set-up --------------------------------------------------------
    def start_session(self) -> None:
        from realtime_banking_cdc_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.env['TMPDIR']}",
        }
        if self.traced:
            self.event_dir = os.path.join(WORK, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        a = stamp()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.range(1).count()
        self.session_s = unstolen_s(a, stamp())

    def make_inputs(self) -> None:
        """Generate every input from the seed into a fresh directory."""
        from perfbench import gen_cdc, gen_tables

        mix = self.mix
        d = os.path.join(WORK, "run")
        shutil.rmtree(d, ignore_errors=True)
        self.dirs = {
            name: os.path.join(d, name)
            for name in ("landing", "backfill", "state", "fact", "src", "staging", "ckpt", "tables", "scratch")
        }
        for name in ("src", "staging"):
            os.makedirs(self.dirs[name])
        seed = self.args.seed
        n_stream = max(2, int(mix.stream_ticks_per_s * self.args.seconds * STREAM_SHARE))
        self.log = gen_cdc.generate(mix.history_ticks + n_stream, seed, mix.updates_per_tick)
        write_landing(self.log.events[: self.log.ticks[mix.history_ticks - 1]], self.dirs["landing"])
        gen_tables.write(self.dirs["tables"], seed, QUERY_SCALE)

    def setup(self) -> None:
        self.start_session()
        reps = []
        for _ in range(SETUP_REPS):
            a = stamp()
            self.make_inputs()
            reps.append(unstolen_s(a, stamp()))
        self.put("setup_s", self.session_s + statistics.median(reps), "s")
        print(
            f"perfbench: set-up session {self.session_s:.2f}s, inputs {[round(r, 2) for r in reps]}",
            file=sys.stderr,
        )

    def golden_prefix(self, ticks: int):
        """Goldens of the first ``ticks`` ticks (the generator is
        sequential, so a shorter run is an exact prefix)."""
        from perfbench import gen_cdc

        return gen_cdc.generate(ticks, self.args.seed, self.mix.updates_per_tick)

    # -- backfill ------------------------------------------------------
    def backfill_once(self, out_dir: str) -> float:
        from realtime_banking_cdc_pipeline_spark.plans import medallion

        a = stamp()
        frames = read_landing(self.spark, self.dirs["landing"])
        state, gold = medallion.run_pipeline(self.spark, frames, drop_deletes=False)
        state.save(out_dir)
        with self.span("quality"):
            try:
                medallion.run_quality_suite(gold)
            except AssertionError as e:
                self.op(False, f"quality suite: {e}")
        took = unstolen_s(a, stamp())
        if self.tracer:
            self.tracer.release()
        return took

    def backfill_phase(self) -> None:
        if self.traced:
            # the overhead baseline: an untraced rep as warm as the traced one
            self.backfill_once(os.path.join(self.dirs["scratch"], "cold"))
            untraced = self.backfill_once(os.path.join(self.dirs["scratch"], "warm"))
            self.tracer_on()
        took = self.backfill_once(self.dirs["backfill"])
        self.op(True, "backfill")
        self.put("backfill_s", took, "s")
        if self.traced:
            self.put("trace.backfill_overhead_s", took - untraced, "s")
            self.put("trace.backfill_overhead_frac", took / untraced - 1, "ratio")
        self.history = self.golden_prefix(self.mix.history_ticks)
        self.check_cdc(
            self.dirs["backfill"],
            self.history,
            set(self.history.expected_current["customers"]),
            fact_path=None,
            what="backfill",
        )

    # -- stream --------------------------------------------------------
    def stream_phase(self) -> None:
        from perfbench.gen_cdc import frame_line
        from realtime_banking_cdc_pipeline_spark.plans import medallion
        from realtime_banking_cdc_pipeline_spark.plans.materialize import (
            materialize_incremental,
        )
        from realtime_banking_cdc_pipeline_spark.streaming.ingest import (
            read_fixture_stream,
            start_pipeline_stream,
            with_stream_dedup,
        )

        spark, dirs, mix, log = self.spark, self.dirs, self.mix, self.log
        first = mix.history_ticks
        n_files = len(log.ticks) - first
        interval = 1.0 / mix.stream_ticks_per_s
        commits: dict[int, tuple] = {}  # batch id -> stamp at commit
        batch_rows: list[int] = []
        # the stream continues from a copy, so the backfill's output stays
        # intact for its correctness gate
        shutil.copytree(dirs["backfill"], dirs["state"])
        state = medallion.MedallionState.load(spark, dirs["state"])
        failures: list[str] = []

        # Stopping the query interrupts a running batch, possibly inside
        # MedallionState.save; the lock lets the last batch finish first
        # and turns batches started after the drain (e.g. the no-data
        # batches the dedup state's watermark triggers) into no-ops.
        batch_lock = threading.Lock()
        stopping = False

        def on_batch(batch_df, epoch):
            with batch_lock:
                if not stopping:
                    process(batch_df, epoch)

        def process(batch_df, epoch):
            nonlocal state
            try:
                batch = batch_df.select("topic", "key", "value", "ts").cache()
                if self.tracer:
                    with self.tracer.span("ingest"):  # the deduped batch, forced
                        batch_rows.append(batch.count())
                state, gold = medallion.run_pipeline(spark, batch, state=state)
                with self.span("state.sink"):
                    materialize_incremental(
                        spark, gold["fact_transactions"], dirs["fact"], unique_key="transaction_id"
                    )
                state.save(dirs["state"])
                state = medallion.MedallionState.load(spark, dirs["state"])
                commits[epoch] = stamp()
                batch.unpersist()
                if self.tracer:
                    self.tracer.release()
                    spark.sparkContext.setJobGroup("ingest", "ingest")
            except Exception as e:  # a failed micro-batch is counted, not fatal
                failures.append(f"batch {epoch}: {e!r}")
                raise

        frames = with_stream_dedup(read_fixture_stream(spark, dirs["src"]))
        q = start_pipeline_stream(spark, frames, on_batch, dirs["ckpt"], trigger_available_now=False)
        self.stream_run_id = str(q.runId)
        written: list[tuple[float, tuple, int]] = []  # (due, stamp when written, events)
        t0 = time.perf_counter() + 0.5

        def generate():
            for i in range(n_files):
                due = t0 + i * interval
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                events = log.tick_events(first + i)
                now_ms = int(time.time() * 1000)
                name = f"tick-{i:06d}.jsonl"
                tmp = os.path.join(dirs["staging"], name)
                with open(tmp, "w") as f:
                    f.write("\n".join(frame_line(ev, now_ms) for ev in events))
                os.rename(tmp, os.path.join(dirs["src"], name))
                written.append((due, stamp(), len(events)))

        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        gen.join()
        gen_end = time.perf_counter()
        committed_at_end = self.files_committed(commits)
        deadline = gen_end + STREAM_DRAIN_S
        while time.perf_counter() < deadline and q.isActive:
            if len(self.files_committed(commits)) >= n_files:
                break
            time.sleep(0.1)
        drained = time.perf_counter()
        if self.tracer:  # the last batch's progress event trails its commit
            last = max(commits, default=-1)
            while time.perf_counter() < drained + 5 and (q.lastProgress or {}).get("batchId", -1) < last:
                time.sleep(0.05)
        with batch_lock:
            stopping = True
        q.stop()
        file_batch = self.files_committed(commits)
        for f in failures:
            self.op(False, f)
        progress = [p for p in q.recentProgress if p.get("batchId") is not None]
        print(
            f"perfbench: stream {n_files} files in {len(commits)} batches, "
            f"generator {gen_end - t0:.1f}s, drain {drained - gen_end:.1f}s, batch s "
            f"{[round(p['durationMs']['triggerExecution'] / 1000, 1) for p in progress if p['numInputRows']]}",
            file=sys.stderr,
        )
        self.op(len(file_batch) == n_files, f"stream drained {len(file_batch)}/{n_files} files")
        for _ in commits:
            self.op(True, "micro-batch")

        fresh, weights = [], []
        for i, (due, w, n) in enumerate(written):
            b = file_batch.get(i)
            if b is not None:
                fresh.append(unstolen_s((due, w[1], w[2]), commits[b]))
                weights.append(n)
        self.put("freshness_p50_s", pct(fresh, 0.5, weights), "s")
        self.put("freshness_p99_s", pct(fresh, 0.99, weights), "s")

        if self.tracer:
            durations = [p["durationMs"] for p in progress if p.get("numInputRows")]
            self.put("ingest.batches", len(commits), "count")
            self.put(
                "ingest.batch_s_p50",
                statistics.median(d["triggerExecution"] / 1000 for d in durations) if durations else 0.0,
                "s",
            )
            self.put(
                "ingest.trigger_overhead_s",
                statistics.median(
                    (d["triggerExecution"] - d.get("addBatch", 0)) / 1000 for d in durations
                )
                if durations
                else 0.0,
                "s",
            )
            states = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
            self.put("ingest.dedup_state_rows", states[-1] if states else 0, "count")
            offered = sum(n for i, (_d, _w, n) in enumerate(written) if i in file_batch)
            self.put("ingest.dedup_drop_frac", 1 - sum(batch_rows) / offered if offered else 0.0, "ratio")
            backlog = sum(n for i, (_d, _w, n) in enumerate(written) if i not in committed_at_end)
            self.put("ingest.backlog_events_end", backlog, "count")
            self.put("gen.lag_s", max(w[0] - d for d, w, _n in written), "s")

        consumed = log
        if len(file_batch) < n_files:
            consumed = self.golden_prefix(first + len(file_batch))
        # deletes drop in the stream (drop_deletes=True) but closed the
        # version during the backfill
        current = set(consumed.expected_versions["customers"]) - self.history.deleted
        self.check_cdc(dirs["state"], consumed, current, fact_path=dirs["fact"], what="stream")

    def files_committed(self, commits: dict[int, tuple]) -> dict[int, int]:
        """File index -> batch id, for files whose batch has committed,
        read from the checkpoint's ``sources/0`` log."""
        src_log = os.path.join(self.dirs["ckpt"], "sources", "0")
        out: dict[int, int] = {}
        if not os.path.isdir(src_log):
            return out
        for name in os.listdir(src_log):
            if name.startswith("."):
                continue
            try:
                with open(os.path.join(src_log, name)) as f:
                    lines = f.read().splitlines()[1:]
            except OSError:
                continue
            for line in lines:
                try:
                    entry = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log file still being written
                b = entry["batchId"]
                if b in commits:
                    base = os.path.basename(entry["path"])
                    out[int(base[len("tick-") : -len(".jsonl")])] = b
        return out

    # -- queries -------------------------------------------------------
    def query_phase(self) -> None:
        from realtime_banking_cdc_pipeline_spark.caching import release_caches
        from realtime_banking_cdc_pipeline_spark.queries import QUERIES

        sf_dir = self.dirs["tables"]
        # the traced run times every query, so each workload reports all
        mix = ANALYTICS_QUERIES + LLM_DATA_QUERIES if self.traced else ANALYTICS_QUERIES
        for name in mix:  # untimed: warms the query paths, collects outputs
            spec = QUERIES[name]
            try:
                got = spec.spark(self.spark, sf_dir).toPandas()
            except Exception as e:
                self.op(False, f"query {name}: {e!r}")
                continue
            finally:
                release_caches()
            if spec.oracle is not None:
                self.gates.append(partial(self.check_query, name, spec.oracle, got))
        rng = random.Random(self.args.seed)
        t_end = time.perf_counter() + self.args.seconds * QUERY_SHARE
        lat: list[float] = []
        builds: list[float] = []
        execs: list[float] = []
        per_query: dict[str, list[float]] = {n: [] for n in mix}
        while True:  # whole passes, so every query weighs the same in the percentiles
            order = list(mix)
            rng.shuffle(order)
            for name in order:
                try:
                    with self.span("query.build"):
                        a = stamp()
                        df = QUERIES[name].spark(self.spark, sf_dir)
                        m = stamp()
                    with self.span("query.exec"):
                        df.write.format("noop").mode("overwrite").save()
                        b = stamp()
                except Exception as e:
                    self.op(False, f"query {name}: {e!r}")
                    continue
                finally:
                    release_caches()
                self.op(True, f"query {name}")
                builds.append(unstolen_s(a, m))
                execs.append(unstolen_s(m, b))
                lat.append(builds[-1] + execs[-1])
                per_query[name].append(lat[-1])
            if time.perf_counter() >= t_end:
                break
        self.put("query_p50_s", pct(lat, 0.5), "s")
        self.put("query_p90_s", pct(lat, 0.9), "s")
        if self.tracer:
            self.put("query.build_s", statistics.median(builds), "s")
            self.put("query.exec_s", statistics.median(execs), "s")
            for name, ts in per_query.items():
                self.put(f"query.{name}_s", statistics.median(ts) if ts else 0.0, "s")

    # -- correctness gates --------------------------------------------
    # Gates compare after the measured phases (``self.gates``), so their
    # DuckDB work stays out of the timings and the memory peak; query
    # outputs come from the untimed pass, so no timed execution collects.
    def check_cdc(self, state_dir, log, current_customers, fact_path, what) -> None:
        from perfbench.gates import cdc_mismatches

        def gate():
            problems = cdc_mismatches(state_dir, fact_path, log, current_customers)
            self.op(not problems, f"{what}: {problems}")

        self.gates.append(gate)

    def check_query(self, name: str, oracle: str, got) -> None:
        import duckdb
        from check_correctness import compare  # the repository's strict oracle check

        sf_dir = self.dirs["tables"]
        with duckdb.connect() as con:
            for f in os.listdir(sf_dir):
                con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
            problems = compare(name, got, con.execute(oracle).df())
        self.op(not problems, f"query {name} against its oracle: {problems[:3]}")

    # -- main ----------------------------------------------------------
    def tracer_on(self) -> None:
        from perfbench.tracing import Tracer, instrument

        self.tracer = Tracer(self.spark)
        self.undo = instrument(self.tracer)

    def execute(self) -> None:
        begin = stamp()
        with RssSampler() if self.traced else nullcontext() as rss:
            self.setup()
            for phase in (self.backfill_phase, self.stream_phase, self.query_phase):
                t0 = time.perf_counter()
                phase()
                print(f"perfbench: {phase.__name__} {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        end = stamp()
        steal = (end[2] - begin[2]) / max(1, end[1] - begin[1] + end[2] - begin[2])
        print(f"perfbench: host steal {steal:.1%} of wanted CPU", file=sys.stderr)
        if self.traced:
            self.put("peak_rss_mb", rss.peak_mb, "MB")
            self.put("host.steal_frac", steal, "ratio")
        t0 = time.perf_counter()
        for gate in self.gates:
            gate()
        print(f"perfbench: gates {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    def finish_trace(self) -> None:
        from perfbench.tracing import COUNTER_LAYERS, event_log_counters

        t = self.tracer
        self.put("bronze.s", t.median_s("bronze"), "s")
        self.put("silver.s", t.median_s("silver"), "s")
        self.put("scd2.s", t.median_s("scd2"), "s")
        self.put("gold.s", t.median_s("gold"), "s")
        self.put("quality.s", t.median_s("quality"), "s")
        self.put("state.save_s", t.median_s("state.save"), "s")
        self.put("state.load_s", t.median_s("state.load"), "s")
        self.put("sink.s", t.median_s("state.sink"), "s")
        c = t.counts
        for name in (
            "bronze.rows_in", "bronze.rows_out", "bronze.unparsed_rows",
            "silver.rows_out", "scd2.images_in", "scd2.versions_total",
            "scd2.versions_opened", "gold.batch_rows", "gold.fact_rows",
            "quality.checks", "quality.failed",
        ):
            self.put(name, c[name], "count")
        self.put("silver.keep_frac", c["silver.latest_rows"] / max(1, c["scd2.images_in"]), "ratio")
        self.put("gold.rewrite_ratio", c["gold.fact_rows"] / max(1, c["gold.batch_rows"]), "ratio")
        saves = len(t.seconds("state.save"))
        self.put("state.bytes", c["state.bytes"] / max(1, saves), "bytes")
        self.put("state.files", c["state.files"] / max(1, saves), "count")

        def group_layer(group):
            if group is None:
                return None
            if group == self.stream_run_id:
                return "ingest"
            layer = group.split(".")[0]
            return layer if layer in COUNTER_LAYERS else None

        units = {"jobs": "count", "tasks": "count", "executor_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
        for name, value in event_log_counters(self.event_dir, group_layer).items():
            self.put(name, value, units[name.split(".", 1)[1]])

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


# -- shared helpers ----------------------------------------------------
def write_landing(events, out_dir: str) -> None:
    """The raw landing zone: Kafka-framed JSONL shards, ``ts`` = the
    event's CDC time (epoch ms)."""
    from perfbench.gen_cdc import frame_line

    os.makedirs(out_dir, exist_ok=True)
    for s in range(LANDING_SHARDS):
        with open(os.path.join(out_dir, f"part-{s:04d}.jsonl"), "w") as f:
            f.write("\n".join(frame_line(e, e.ts_ms) for e in events[s::LANDING_SHARDS]))


def read_landing(spark, path: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    raw = spark.read.schema(schema).json(path)
    return raw.select("topic", "key", "value", F.timestamp_millis("ts").alias("ts"))


def main(argv=None) -> int:
    sys.dont_write_bytecode = True
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_environment()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    print(f"perfbench: env {json.dumps(env)}", file=sys.stderr)
    run = Run(args, env)
    try:
        run.execute()
        if run.tracer:
            run.undo()
    finally:
        run.stop()
    if run.tracer:
        run.finish_trace()
    names = load_metric_names(args.trace)
    missing = names - set(run.metrics)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": run.metrics[n][0], "unit": run.metrics[n][1]} for n in sorted(names)
        },
    }
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


def load_metric_names(trace: int) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
