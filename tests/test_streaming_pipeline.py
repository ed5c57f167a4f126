"""Composed streaming ingest pipeline (streaming/pipeline.py): the
five proven store tiers chained in one foreachBatch. Pins the three
composition contracts the standalone suites cannot see:

1. stage semantics end-to-end — planted exact / near-dup / semantic
   duplicate families each die at their stage, originals survive;
2. micro-batched == one-shot survivors (fixed codebook, id-ordered
   arrivals — the documented batching-invariance conditions);
3. whole-chain replay idempotence — re-running an epoch reproduces
   survivors, accounting output, and every store verdict.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from realtime_banking_cdc_pipeline_spark.streaming.pipeline import (
    _paths,
    pipeline_batch,
    start_pipeline_ingest,
)
from realtime_banking_cdc_pipeline_spark.streaming.semantic import (
    train_codebook,
)

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id bigint, text string, embedding array<float>"
SEM_THRESHOLD = 0.95  # only exact-embedding plants collide (cos = 1)


def _base_rows(spark, n=40):
    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .filter(F.col("doc_id") < n)
        .select("doc_id", "text")
    )
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return [
        (r.doc_id, r.text, [float(x) for x in r.embedding])
        for r in docs.join(emb, "doc_id").orderBy("doc_id").collect()
    ]


def _planted(rows):
    """Three duplicate families, each targeting exactly one stage."""
    by_id = {r[0]: r for r in rows}
    spare = by_id[39]  # embedding donor for text-level plants
    exact = (1003, by_id[3][1], spare[2])  # same text as doc 3
    near = (1006, by_id[6][1] + " extra", spare[2])  # near-dup of doc 6
    # semantic plant: doc 10's embedding verbatim, text = reversed
    # token order (different shingles -> passes exact and near-dup)
    sem_text = " ".join(reversed(by_id[10][1].split()))
    sem = (1010, sem_text, by_id[10][2])
    return [exact, near, sem]


def _write_stream_files(rows_per_file, src_dir):
    os.makedirs(src_dir, exist_ok=True)
    for i, rows in enumerate(rows_per_file):
        path = os.path.join(src_dir, f"part-{i:03d}.json")
        with open(path, "w") as f:
            for doc_id, text, emb in rows:
                f.write(
                    json.dumps(
                        {"doc_id": doc_id, "text": text, "embedding": emb}
                    )
                    + "\n"
                )
        # strictly increasing mtimes: the file stream source orders
        # same-timestamp files NONDETERMINISTICALLY, which intermittently
        # violated the id-ordered-arrival precondition the parity tests
        # depend on (observed: micro-vs-oneshot survivor flake; confirmed
        # by a same-mtime vs spaced-mtime A/B). Same convention as
        # test_streaming_semantic.
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _survivor_ids(spark, root):
    out = os.path.join(_paths(root)["out"], "survivors")
    return sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )


def _run(spark, src, root, ckpt, **kw):
    q = start_pipeline_ingest(
        spark,
        src,
        root,
        ckpt,
        SCHEMA,
        semantic_threshold=SEM_THRESHOLD,
        **kw,
    )
    # a timeout RETURN (vs termination) leaves partial survivors and a
    # silently-wrong parity comparison — observed once when the suite
    # shared the box with a 2M-doc probe; wait long and then verify
    finished = q.awaitTermination(1800)
    assert finished, "pipeline stream did not drain within 30 min"


def test_pipeline_stage_semantics(spark, tmp_path):
    """Batch 1 = 40 originals; batch 2 = 3 plants + 2 fresh docs. Each
    plant dies at its stage; the fresh docs and (modulo semantic
    collisions among originals, excluded by the 0.95 threshold) the
    originals survive."""
    rows = _base_rows(spark)
    plants = _planted(rows)
    dim = len(rows[0][2])
    fresh = [
        (
            2001,
            "totally fresh content about nothing seen before alpha",
            [((j * 37 + 11) % 19 - 9) / 10.0 for j in range(dim)],
        ),
        (
            2002,
            "another genuinely new document beta gamma delta epsilon",
            [((j * 53 + 29) % 17 - 8) / 10.0 for j in range(dim)],
        ),
    ]
    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    _write_stream_files([rows, plants + fresh], src)
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    _run(spark, src, root, str(tmp_path / "ckpt"))

    ids = set(_survivor_ids(spark, root))
    assert 1003 not in ids, "exact plant must die at the exact gate"
    assert 1006 not in ids, "near plant must die at the near-dup gate"
    assert 1010 not in ids, "semantic plant must die at the semantic gate"
    assert 2001 in ids and 2002 in ids, "fresh docs must survive"
    # embedding-donor originals survive: sem threshold 0.95 means the
    # shared donor embedding of the text plants cannot drop doc 39
    assert {3, 6, 10, 39} <= ids
    # substr accounting exists for every epoch
    sub = spark.read.parquet(os.path.join(_paths(root)["out"], "substr"))
    assert sub.columns == ["boiler_tokens", "doc_id"] or set(
        sub.columns
    ) >= {"doc_id", "boiler_tokens"}


def test_pipeline_micro_vs_oneshot(spark, tmp_path):
    """4-file micro-batched run == one-batch run on the same corpus,
    under a fixed pre-trained codebook (the semantic store's documented
    parity condition) and id-ordered arrivals."""
    rows = _base_rows(spark)
    plants = _planted(rows)
    all_rows = rows + plants  # id order: originals then plants
    quarters = [all_rows[i::4] for i in range(4)]
    # keep id-ordered arrivals: slice sequentially instead
    n = len(all_rows)
    step = (n + 3) // 4
    quarters = [all_rows[i : i + step] for i in range(0, n, step)]

    emb_df = spark.createDataFrame(
        [(r[0], r[2]) for r in all_rows],
        "vec_id long, embedding array<float>",
    )

    micro_root = str(tmp_path / "micro_root")
    micro_src = str(tmp_path / "micro_src")
    _write_stream_files(quarters, micro_src)
    train_codebook(emb_df, _paths(micro_root)["codebook"])
    _run(spark, micro_src, micro_root, str(tmp_path / "micro_ckpt"))

    one_root = str(tmp_path / "one_root")
    one_src = str(tmp_path / "one_src")
    _write_stream_files([all_rows], one_src)
    train_codebook(emb_df, _paths(one_root)["codebook"])
    _run(
        spark,
        one_src,
        one_root,
        str(tmp_path / "one_ckpt"),
        max_files_per_trigger=16,
    )

    assert _survivor_ids(spark, micro_root) == _survivor_ids(spark, one_root)


def test_pipeline_replay_idempotence(spark, tmp_path):
    """Re-running the LAST epoch's pipeline_batch over the same rows
    must reproduce the survivor ids, the substr accounting, and every
    store's verdict-relevant read bit-for-bit."""
    rows = _base_rows(spark)
    plants = _planted(rows)
    halves = [rows, plants]
    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    _write_stream_files(halves, src)
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    _run(spark, src, root, str(tmp_path / "ckpt"))

    p = _paths(root)
    before_surv = _survivor_ids(spark, root)
    before_sub = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(p["out"], "substr")).collect(),
        )
    )
    before_corpus = spark.read.parquet(p["corpus"]).count()

    # replay epoch 1 (the plants batch) directly
    replay = spark.createDataFrame(plants, SCHEMA.replace("bigint", "long"))
    pipeline_batch(
        replay, root, epoch_id=1, semantic_threshold=SEM_THRESHOLD
    )

    assert _survivor_ids(spark, root) == before_surv
    after_sub = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(p["out"], "substr")).collect(),
        )
    )
    assert after_sub == before_sub
    assert spark.read.parquet(p["corpus"]).count() == before_corpus


def test_pipeline_paragraph_stage(spark, tmp_path):
    """r10 directive #3: the composed chain gains the v4 paragraph
    stage. Batch 1 = 40 originals; batch 2 plants:

    - 3007 = doc 7's first 20-token block (boilerplate) + 20 fresh
      tokens -> the repeated block dies at the paragraph stage, the
      doc survives with REBUILT text (1 of 2 paragraphs removed);
    - 3008 = doc 7's first block verbatim and nothing else -> all
      boilerplate, the doc drops at the paragraph stage (full text
      differs from doc 7's, so the exact gate cannot be the killer).
    """
    rows = _base_rows(spark)
    dim = len(rows[0][2])
    block7 = " ".join(dict(((r[0], r) for r in rows))[7][1].split()[:20])
    fresh_tail = " ".join(f"zunique{j}" for j in range(20))
    plants = [
        (
            3007,
            block7 + " " + fresh_tail,
            [((j * 41 + 13) % 23 - 11) / 12.0 for j in range(dim)],
        ),
        (
            3008,
            block7,
            [((j * 59 + 31) % 21 - 10) / 11.0 for j in range(dim)],
        ),
    ]
    src = str(tmp_path / "src")
    root = str(tmp_path / "root")
    _write_stream_files([rows, plants], src)
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows + plants],
            "vec_id long, embedding array<float>",
        ),
        _paths(root)["codebook"],
    )
    _run(spark, src, root, str(tmp_path / "ckpt"))

    ids = set(_survivor_ids(spark, root))
    assert 3007 in ids, "partially-boilerplate doc must survive rebuilt"
    assert 3008 not in ids, "all-boilerplate doc must drop"
    assert 7 in ids, "the original block owner survives"

    acc = {
        r.doc_id: r
        for r in spark.read.parquet(
            os.path.join(_paths(root)["out"], "paragraph")
        ).collect()
    }
    assert acc[3007].n_paras == 2 and acc[3007].n_paras_removed == 1
    assert acc[3008].n_paras == 1 and acc[3008].n_paras_removed == 1
    # originals' paragraphs were all first occurrences
    assert acc[7].n_paras_removed == 0
    # the near-dup store ingested the REBUILT text: 3007's stored
    # signature derives from the fresh block only, so a later doc
    # repeating just the fresh tail is a near-dup of 3007's survivor
    para_store = _paths(root)["para"]
    assert os.path.exists(para_store)


def test_pipeline_skip_paragraph_stage(spark, tmp_path):
    """ADVICE r11 (high): with_paragraph_stage=False — the documented
    five-stage r9/r10 chain — used to crash with UnboundLocalError at
    the near-dup gate because its kwargs were assigned inside the
    paragraph block. Pin that the skip path runs end-to-end, still
    kills each plant at its stage, and writes no paragraph accounting.
    Called without a ``survivor_scope``, the batches leave no checkpoint
    behind once the host runs ``release_caches``."""
    from realtime_banking_cdc_pipeline_spark.caching import release_caches

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    n_start = persistent().size()
    rows = _base_rows(spark)
    plants = _planted(rows)
    root = str(tmp_path / "root")
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    long_schema = SCHEMA.replace("bigint", "long")
    pipeline_batch(
        spark.createDataFrame(rows, long_schema),
        root,
        epoch_id=0,
        with_paragraph_stage=False,
        semantic_threshold=SEM_THRESHOLD,
    )
    pipeline_batch(
        spark.createDataFrame(plants, long_schema),
        root,
        epoch_id=1,
        with_paragraph_stage=False,
        semantic_threshold=SEM_THRESHOLD,
    )
    ids = set(_survivor_ids(spark, root))
    assert 1003 not in ids and 1006 not in ids and 1010 not in ids
    assert {3, 6, 10, 39} <= ids
    assert not os.path.exists(os.path.join(_paths(root)["out"], "paragraph"))
    release_caches()
    assert persistent().size() == n_start


def test_pipeline_zero_block_doc_accounting(spark, tmp_path):
    """ADVICE r11: a survivor whose text tokenizes to zero blocks must
    appear in the paragraph accounting (n_paras=0, like batch
    paragraph_dedup_frame) and drop from the survivor path (v4's
    'empty' status) — previously it silently vanished from both."""
    rows = _base_rows(spark)
    dim = len(rows[0][2])
    zb = (4004, "   ", [((j * 43 + 17) % 25 - 12) / 13.0 for j in range(dim)])
    fresh = (
        4005,
        "completely new words never observed anywhere in the corpus",
        [((j * 61 + 37) % 27 - 13) / 14.0 for j in range(dim)],
    )
    root = str(tmp_path / "root")
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    long_schema = SCHEMA.replace("bigint", "long")
    pipeline_batch(
        spark.createDataFrame(rows, long_schema),
        root,
        epoch_id=0,
        semantic_threshold=SEM_THRESHOLD,
    )
    pipeline_batch(
        spark.createDataFrame([zb, fresh], long_schema),
        root,
        epoch_id=1,
        semantic_threshold=SEM_THRESHOLD,
    )
    ids = set(_survivor_ids(spark, root))
    assert 4004 not in ids, "zero-block doc drops (v4 'empty' status)"
    assert 4005 in ids
    acc = {
        r.doc_id: r
        for r in spark.read.parquet(
            os.path.join(_paths(root)["out"], "paragraph")
        ).collect()
    }
    assert 4004 in acc, "zero-block doc must get an accounting row"
    assert acc[4004].n_paras == 0 and acc[4004].n_paras_removed == 0
    assert acc[4005].n_paras >= 1 and acc[4005].n_paras_removed == 0


def test_pipeline_coverage_monitor(spark, tmp_path):
    """r12: the opt-in vocabulary-novelty monitor rides alongside the
    gates on the RAW batch — epoch summaries land in out/coverage,
    novelty decays when later batches repeat earlier shingles, and the
    cumulative vocab equals the sum of per-epoch n_new. Exercises the
    EXACT digest store (r13 made the KMV sketch the default mode —
    tests/test_streaming_kmv.py covers that path)."""
    rows = _base_rows(spark)
    halves = [rows[:20], rows[20:] + rows[:5]]  # second batch repeats
    root = str(tmp_path / "root")
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    long_schema = SCHEMA.replace("bigint", "long")
    for e, batch in enumerate(halves):
        pipeline_batch(
            spark.createDataFrame(batch, long_schema),
            root,
            epoch_id=e,
            with_coverage_monitor=True,
            coverage_monitor_exact=True,
            semantic_threshold=SEM_THRESHOLD,
        )
    cov = {
        r.epoch: r
        for r in spark.read.parquet(
            os.path.join(_paths(root)["out"], "coverage")
        ).collect()
    }
    assert set(cov) == {0, 1}
    assert cov[0].n_new == cov[0].n_shingles  # everything fresh at e0
    assert cov[1].n_new < cov[1].n_shingles  # repeats are not novel
    assert cov[1].vocab_size == cov[0].n_new + cov[1].n_new
    from realtime_banking_cdc_pipeline_spark.streaming.metrics import (
        read_coverage_health,
    )

    assert (
        read_coverage_health(spark, _paths(root)["coverage"]).first().vocab_size
        == cov[1].vocab_size
    )


def test_pipeline_funnel_record(spark, tmp_path):
    """r12 observability: each epoch writes a one-row funnel —
    gate-kept counts that must reconcile with the planted families
    (stage-semantics fixture) and with the survivor output."""
    rows = _base_rows(spark)
    plants = _planted(rows)
    root = str(tmp_path / "root")
    train_codebook(
        spark.createDataFrame(
            [(r[0], r[2]) for r in rows], "vec_id long, embedding array<float>"
        ),
        _paths(root)["codebook"],
    )
    long_schema = SCHEMA.replace("bigint", "long")
    pipeline_batch(
        spark.createDataFrame(rows, long_schema),
        root,
        epoch_id=0,
        semantic_threshold=SEM_THRESHOLD,
    )
    pipeline_batch(
        spark.createDataFrame(plants, long_schema),
        root,
        epoch_id=1,
        semantic_threshold=SEM_THRESHOLD,
    )
    fun = {
        r.epoch: r
        for r in spark.read.parquet(
            os.path.join(_paths(root)["out"], "funnel")
        ).collect()
    }
    assert set(fun) == {0, 1}
    # epoch 0: 40 fresh originals pass the exact gate; the paragraph
    # stage may drop an original whose every block is a within-batch
    # near-dup of earlier docs' blocks (observed: 1 of 40) — the
    # funnel must be monotone and reconcile, not lossless
    assert fun[0].n_in == 40
    assert fun[0].n_exact_kept == 40
    assert (
        fun[0].n_exact_kept
        >= fun[0].n_paragraph_kept
        >= fun[0].n_neardup_kept
        >= fun[0].n_semantic_kept
        >= 38
    )
    # epoch 1: exact plant dies at the exact gate; the near plant
    # (doc 6's text + one extra token) dies at the PARAGRAPH stage —
    # its 20-token blocks near-dup doc 6's stored blocks, so the
    # six-stage chain catches it one gate earlier than its name says
    # (with_paragraph_stage=False would push it to the near-dup
    # gate); the semantic plant dies at the semantic gate
    assert fun[1].n_in == 3
    assert fun[1].n_exact_kept == 2
    assert fun[1].n_paragraph_kept == 1
    assert fun[1].n_neardup_kept == 1
    assert fun[1].n_semantic_kept == 0
    # funnel is monotone non-increasing and reconciles with survivors
    surv1 = spark.read.parquet(
        os.path.join(_paths(root)["out"], "survivors", "epoch=1")
    ).count()
    assert surv1 == fun[1].n_semantic_kept


def test_pipeline_stagger_compaction_parity(spark, tmp_path):
    """stagger_compaction=True spreads the per-store folds across the
    cadence (r14 judge directive #2: the single inline all-store fold
    dominated the worst probe batch). Compaction only changes storage
    layout, never query-visible state — so a staggered run's
    survivors, plan and coverage outputs must equal an unstaggered
    twin's bit-for-bit."""
    rows = _base_rows(spark)
    chunks = [rows[i * 8 : (i + 1) * 8] for i in range(5)]
    src_expr = F.concat(
        F.lit("s"), F.pmod(F.col("doc_id"), F.lit(2)).cast("string")
    )

    def collect_out(root, sub):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(_paths(root)["out"], sub)
            ).collect()
        )

    outs = {}
    for mode, stag in (("flat", False), ("stag", True)):
        src = str(tmp_path / f"src_{mode}")
        root = str(tmp_path / f"root_{mode}")
        _write_stream_files(chunks, src)
        _run(
            spark,
            src,
            root,
            str(tmp_path / f"ckpt_{mode}"),
            with_paragraph_stage=False,
            bloom_bits=1 << 20,
            compact_every=2,
            stagger_compaction=stag,
            with_coverage_monitor=True,
            plan_refresher_source=src_expr,
        )
        outs[mode] = (
            _survivor_ids(spark, root),
            collect_out(root, "plan"),
            collect_out(root, "coverage"),
            collect_out(root, "funnel"),
        )
    assert outs["flat"] == outs["stag"]
