"""Streaming KMV novelty monitor (metrics.py): the constant-state
sketch twin of the exact coverage monitor. Pins:

1. exact parity below capacity — while the cumulative vocabulary is
   smaller than kmv_k the sketch holds EVERY hash, so the five-column
   summary row must equal the exact monitor's row epoch by epoch
   (modulo 60-bit hash collisions, probability ~1e-13 here);
2. the estimation path (tiny kmv_k over a larger synthetic stream)
   tracks the exact novelty series within the a-not-b error bound;
3. replay idempotence — re-running the last epoch reproduces its
   summary row and leaves the store fold unchanged;
4. compaction preserves verdicts and tolerates crash leftovers
   (a folded source partition resurrected next to the committed base
   must not change any estimate) — and the exact coverage store's
   read_coverage_health honors the same leftover rule (r12 ADVICE).
"""

from __future__ import annotations

import os
import shutil

from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
    compact_coverage_store,
    compact_kmv_novelty_store,
    coverage_monitor_batch,
    kmv_novelty_batch,
    read_coverage_health,
    read_kmv_novelty_health,
)

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string"


def _doc_rows(spark, n=60, lo=0):
    from pyspark.sql import functions as F

    return [
        (r.doc_id, r.text)
        for r in spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < n))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    ]


def test_kmv_matches_exact_below_capacity(spark, tmp_path):
    rows = _doc_rows(spark)
    quarters = [rows[i : i + 15] for i in range(0, 60, 15)]
    kstore, xstore = str(tmp_path / "kmv"), str(tmp_path / "exact")
    for e, batch in enumerate(quarters):
        df = spark.createDataFrame(batch, SCHEMA)
        kv = kmv_novelty_batch(df, kstore, "doc_id", "text", epoch_id=e).first()
        xv = coverage_monitor_batch(df, xstore, "doc_id", "text", epoch_id=e).first()
        assert tuple(kv) == tuple(xv), f"epoch {e}: sketch below capacity must be exact"
    h = read_kmv_novelty_health(spark, kstore).first()
    assert h.sample_size == h.vocab_size_est == kv.vocab_size


def test_kmv_estimation_path_tracks_exact(spark, tmp_path):
    # tiny sketch (k=512) over repeated+fresh synthetic docs so the
    # store saturates and the a-not-b estimator actually runs
    base = _doc_rows(spark, n=40)
    batches = []
    for b in range(4):
        fresh = [
            (10_000 + b * 100 + i, f"{t} salt{b} mix {i} tail{b * 7 + i}")
            for i, (_, t) in enumerate(base[:20])
        ]
        stale = [(d, t) for d, t in base]  # repeats every batch
        batches.append(stale + fresh)
    K = 512
    kstore, xstore = str(tmp_path / "kmv"), str(tmp_path / "exact")
    for e, batch in enumerate(batches):
        df = spark.createDataFrame(batch, SCHEMA)
        kv = kmv_novelty_batch(
            df, kstore, "doc_id", "text", epoch_id=e, kmv_k=K
        ).first()
        xv = coverage_monitor_batch(
            df, xstore, "doc_id", "text", epoch_id=e
        ).first()
        assert kv.n_docs == xv.n_docs and kv.n_shingles == xv.n_shingles
        # a-not-b error ~ 1/sqrt(sampled misses); allow a generous
        # 5-sigma band plus slack for the small-sample regime
        tol = max(0.25 * xv.novelty_rate, 0.15)
        assert abs(kv.novelty_rate - xv.novelty_rate) <= tol, (
            f"epoch {e}: est {kv.novelty_rate:.3f} vs exact "
            f"{xv.novelty_rate:.3f}"
        )
        assert abs(kv.vocab_size - xv.vocab_size) <= 0.25 * xv.vocab_size


def test_kmv_replay_and_compaction_leftovers(spark, tmp_path):
    rows = _doc_rows(spark)
    halves = [rows[:30], rows[30:]]
    store = str(tmp_path / "kmv")
    summaries = []
    for e, batch in enumerate(halves):
        df = spark.createDataFrame(batch, SCHEMA)
        summaries.append(
            kmv_novelty_batch(df, store, "doc_id", "text", epoch_id=e).first()
        )
    vocab = read_kmv_novelty_health(spark, store).first().vocab_size_est
    # replay the LAST epoch: identical summary, fold unchanged
    df = spark.createDataFrame(halves[1], SCHEMA)
    replay = kmv_novelty_batch(df, store, "doc_id", "text", epoch_id=1).first()
    assert tuple(replay) == tuple(summaries[1])
    assert read_kmv_novelty_health(spark, store).first().vocab_size_est == vocab

    # compaction folds 0,1 into a base; a third batch's verdicts are
    # unchanged, and a resurrected (crash-leftover) source partition
    # changes nothing because the fold is a distinct bottom-k
    probe = spark.createDataFrame(
        [(9001, rows[0][1]), (9002, "zz unseen aa bb cc dd")], SCHEMA
    )
    before = kmv_novelty_batch(probe, store, "doc_id", "text", epoch_id=2).first()
    ep0 = os.path.join(store, "epoch=0")
    saved = str(tmp_path / "ep0_copy")
    shutil.copytree(ep0, saved)
    compact_kmv_novelty_store(spark, store, 2)
    assert not os.path.exists(ep0)
    shutil.copytree(saved, ep0)  # simulate rmtree failure leftover
    after = kmv_novelty_batch(probe, store, "doc_id", "text", epoch_id=2).first()
    assert tuple(after) == tuple(before)
    # health includes the probe epoch's own partition (it was written)
    assert (
        read_kmv_novelty_health(spark, store).first().vocab_size_est
        == before.vocab_size
    )


def test_exact_coverage_health_tolerates_leftovers(spark, tmp_path):
    """r12 ADVICE: read_coverage_health must count LIVE partitions only
    — a compaction crash can leave a folded source epoch on disk next
    to the committed base, and a raw count would tally it twice."""
    rows = _doc_rows(spark)
    store = str(tmp_path / "exact")
    for e, batch in enumerate([rows[:30], rows[30:]]):
        df = spark.createDataFrame(batch, SCHEMA)
        coverage_monitor_batch(df, store, "doc_id", "text", epoch_id=e)
    vocab = read_coverage_health(spark, store).first().vocab_size
    ep0 = os.path.join(store, "epoch=0")
    saved = str(tmp_path / "ep0_copy")
    shutil.copytree(ep0, saved)
    compact_coverage_store(spark, store, 2)
    assert read_coverage_health(spark, store).first().vocab_size == vocab
    shutil.copytree(saved, ep0)  # crash leftover next to committed base
    assert read_coverage_health(spark, store).first().vocab_size == vocab


def test_pipeline_kmv_default_and_exact_flag(spark, tmp_path):
    """with_coverage_monitor default = KMV store (coverage_kmv_store on
    disk, no exact store); coverage_monitor_exact=True = the r12 exact
    digest store. Both land the same-schema row in out/coverage."""
    from pyspark.sql import functions as F

    from realtime_banking_cdc_pipeline_spark.streaming.pipeline import (
        pipeline_batch,
        synth_embedding,
    )

    rows = _doc_rows(spark, n=24)
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "embedding", synth_embedding(F.col("text"))
    )
    root = str(tmp_path / "kroot")
    pipeline_batch(df, root, epoch_id=0, with_coverage_monitor=True)
    assert os.path.exists(os.path.join(root, "coverage_kmv_store"))
    assert not os.path.exists(os.path.join(root, "coverage_store"))
    got = spark.read.parquet(os.path.join(root, "out", "coverage"))
    assert set(got.columns) >= {
        "n_docs", "n_shingles", "n_new", "novelty_rate", "vocab_size",
    }

    root2 = str(tmp_path / "xroot")
    pipeline_batch(
        df, root2, epoch_id=0, with_coverage_monitor=True,
        coverage_monitor_exact=True,
    )
    assert os.path.exists(os.path.join(root2, "coverage_store"))
    assert not os.path.exists(os.path.join(root2, "coverage_kmv_store"))
    r1 = spark.read.parquet(os.path.join(root, "out", "coverage")).first()
    r2 = spark.read.parquet(os.path.join(root2, "out", "coverage")).first()
    # below sketch capacity both modes are exact — identical rows
    assert tuple(r1.asDict()[c] for c in ("n_docs", "n_shingles", "n_new", "vocab_size")) == tuple(
        r2.asDict()[c] for c in ("n_docs", "n_shingles", "n_new", "vocab_size")
    )


def _with_source(rows, n_sources=3):
    return [(d, f"src{d % n_sources}", t) for d, t in rows]


def test_kmv_source_novelty_exact_below_capacity(spark, tmp_path):
    """Per-source twin: below per-source capacity every figure is
    exact — pinned against a plain-DataFrame per-source reference
    (first-epoch attribution of distinct (source, shingle) hashes)."""
    from pyspark.sql import functions as F

    from realtime_banking_cdc_pipeline_spark.functions.similarity import (
        _shingles_from_tokens,
    )
    from realtime_banking_cdc_pipeline_spark.functions.text import ws_tokens
    from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
        kmv_source_novelty_batch,
    )

    rows = _with_source(_doc_rows(spark))
    halves = [rows[:30], rows[30:]]
    store = str(tmp_path / "ksrc")
    schema = "doc_id long, source string, text string"
    got = []
    for e, batch in enumerate(halves):
        df = spark.createDataFrame(batch, schema)
        got.append(
            {
                r.source: r
                for r in kmv_source_novelty_batch(
                    df, store, "doc_id", "text", epoch_id=e
                ).collect()
            }
        )

    # reference: per (source, shingle), the epoch that introduced it
    seen: dict = {}
    for e, batch in enumerate(halves):
        df = spark.createDataFrame(batch, schema)
        sh = (
            df.select(
                "source",
                F.explode(
                    _shingles_from_tokens(ws_tokens(F.col("text")), 3)
                ).alias("s"),
            )
            .distinct()
            .collect()
        )
        per_src_new = {}
        per_src_sh = {}
        for r in sh:
            per_src_sh[r.source] = per_src_sh.get(r.source, 0) + 1
            if (r.source, r.s) not in seen:
                seen[(r.source, r.s)] = e
                per_src_new[r.source] = per_src_new.get(r.source, 0) + 1
        for src, row in got[e].items():
            assert row.n_shingles == per_src_sh[src], (e, src)
            assert row.n_new == per_src_new.get(src, 0), (e, src)
        # cumulative per-source vocab
        for src, row in got[e].items():
            vocab = sum(
                1 for (s, _), ee in seen.items() if s == src and ee <= e
            )
            assert row.vocab_size == vocab, (e, src)


def test_kmv_source_novelty_replay_and_compaction(spark, tmp_path):
    from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
        compact_kmv_source_store,
        kmv_source_novelty_batch,
    )

    rows = _with_source(_doc_rows(spark))
    halves = [rows[:30], rows[30:]]
    store = str(tmp_path / "ksrc")
    schema = "doc_id long, source string, text string"
    out = []
    for e, batch in enumerate(halves):
        df = spark.createDataFrame(batch, schema)
        out.append(
            sorted(
                map(tuple, kmv_source_novelty_batch(
                    df, store, "doc_id", "text", epoch_id=e
                ).collect())
            )
        )
    # replay last epoch: identical per-source rows
    df = spark.createDataFrame(halves[1], schema)
    replay = sorted(
        map(tuple, kmv_source_novelty_batch(
            df, store, "doc_id", "text", epoch_id=1
        ).collect())
    )
    assert replay == out[1]
    # compaction preserves a third batch's verdicts
    probe = spark.createDataFrame(
        [(9001, "src0", rows[0][2]), (9002, "src1", "zz unseen aa bb cc dd")],
        schema,
    )
    before = sorted(
        map(tuple, kmv_source_novelty_batch(
            probe, store, "doc_id", "text", epoch_id=2
        ).collect())
    )
    compact_kmv_source_store(spark, store, 2)
    after = sorted(
        map(tuple, kmv_source_novelty_batch(
            probe, store, "doc_id", "text", epoch_id=2
        ).collect())
    )
    assert after == before


def test_source_novelty_streaming_wrapper(spark, tmp_path):
    import json

    from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
        start_source_novelty_monitor,
    )

    rows = _with_source(_doc_rows(spark, n=40))
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, chunk in enumerate([rows[:20], rows[20:]]):
        path = os.path.join(src, f"part-{i:03d}.json")
        with open(path, "w") as f:
            for doc_id, source, text in chunk:
                f.write(json.dumps({"doc_id": doc_id, "source": source,
                                    "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    q = start_source_novelty_monitor(
        spark, src, store, out, str(tmp_path / "ckpt"),
        "doc_id long, source string, text string", "doc_id", "text",
    )
    assert q.awaitTermination(600), "source-novelty monitor did not drain"
    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() == 2
    # per-source vocab at the last epoch == cumulative per-source n_new
    last = {r.source: r.vocab_size for r in got.filter("epoch = 1").collect()}
    acc = {
        r.source: r.total
        for r in got.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["sum"]).sum("n_new").alias("total")
        ).collect()
    }
    assert last == {s: int(v) for s, v in acc.items()}


def test_monitor_batches_release_their_checkpoints(spark, tmp_path):
    """r13 ADVICE closure: the KMV/coverage batch monitors, the
    HLL/CMS/DDSketch/Bloom store updates, and every compactor must
    scope-release each localCheckpoint they take — a long-running
    stream must not rely on the ContextCleaner to reclaim per-batch
    blocks. Pin: the persistent-RDD registry is no larger after a
    batch + compaction cycle than before it, except for the Bloom
    gate's returned flag frames (caller-owned)."""
    from pyspark.sql import functions as F

    from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
        bloom_gate_batch,
        compact_bloom_store,
        compact_cms_store,
        compact_dds_store,
        compact_hll_store,
        compact_kmv_source_store,
        kmv_source_novelty_batch,
        update_cms_store,
        update_dds_store,
        update_hll_store,
    )

    def reg():
        return {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }

    rows = [(r[0], "s%d" % (r[0] % 3), r[1]) for r in _doc_rows(spark, 40)]
    kstore = str(tmp_path / "kmv")
    xstore = str(tmp_path / "exact")
    sstore = str(tmp_path / "src")
    sketch = {n: str(tmp_path / n) for n in ("hll", "cms", "dds", "bloom")}
    flag_rdds = set()
    before = reg()
    for e in range(3):
        batch = spark.createDataFrame(
            [(i, t) for i, _, t in rows[e * 10 : (e + 1) * 10]], SCHEMA
        )
        kmv_novelty_batch(batch, kstore, "doc_id", "text", epoch_id=e)
        coverage_monitor_batch(batch, xstore, "doc_id", "text", epoch_id=e)
        sbatch = spark.createDataFrame(
            rows[e * 10 : (e + 1) * 10],
            "doc_id long, source string, text string",
        )
        out = kmv_source_novelty_batch(
            sbatch, sstore, "doc_id", "text", epoch_id=e
        )
        assert out.count() > 0  # returned frame usable after release
        update_hll_store(sbatch, sketch["hll"], "source", "text", epoch_id=e)
        update_cms_store(sbatch, sketch["cms"], "source", epoch_id=e)
        update_dds_store(
            sbatch.withColumn("v", F.col("doc_id") + 1), sketch["dds"], "v",
            epoch_id=e,
        )
        flags = bloom_gate_batch(
            batch, sketch["bloom"], "doc_id", "text", epoch_id=e
        )
        assert flags.count() == 10
        flag_rdds.add(int(flags._jdf.queryExecution().logical().rdd().id()))
    compact_kmv_novelty_store(spark, kstore, 2)
    compact_coverage_store(spark, xstore, 2)
    compact_kmv_source_store(spark, sstore, 2)
    compact_hll_store(spark, sketch["hll"], 2)
    compact_cms_store(spark, sketch["cms"], 2)
    compact_dds_store(spark, sketch["dds"], 2)
    compact_bloom_store(spark, sketch["bloom"], 2)
    leaked = reg() - before - flag_rdds
    assert not leaked, f"unreleased checkpoint/persist RDDs: {leaked}"
