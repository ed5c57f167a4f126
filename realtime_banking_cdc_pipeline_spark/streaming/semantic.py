"""Streaming SEMANTIC dedup: the online form of x_semdedup.

The batch SemDeDup ops (queries/round6b.py, arXiv:2303.09540) answer
"semantically dedup this corpus"; the online form gates each arriving
micro-batch of embeddings against everything already ingested without
rescanning history. The design mirrors streaming/corpus.py's MinHash
signature store, with three semantic-tier substitutions:

- **Codebook instead of hash permutations.** MinHash needs no trained
  state; a quantizer does. The codebook (two-level: kc coarse + k fine
  centroids with their fine→coarse map and precomputed norms) is
  trained ONCE on the first batch — the standard IVF bootstrap — and
  persisted next to the store, so every later batch (and every replay)
  assigns against identical centroids. Batch-boundary associativity
  (one batch vs twenty yields the same survivors) holds GIVEN a fixed
  codebook; the first-batch bootstrap is the one place the online and
  offline answers can differ, exactly as for any IVF index trained on
  a sample. Under distribution drift the fixed cells degrade
  gracefully (missed duplicates, never false drops);
  `retrain_semantic_codebook` is the periodic remedy — re-train on
  the most recent horizon rows, re-assign the whole store, promote.
- **Cell store instead of signature store.** Survivor-gating state is
  (vec_id, cid, nn, embedding) rows in ``epoch=<id>/bucket=<cid%64>``
  parquet partitions: the per-batch probe joins on (bucket, cid), so
  dynamic partition pruning bounds the store scan by the CELLS the
  batch actually touches — the semantic analog of the banded key
  store. Embeddings must persist (exact cosine refinement needs them);
  that is what any vector store does, and it is still dim×4 bytes/doc,
  ~1/1000 of raw media.
- **Exact cosine instead of component-match refinement**, the same
  fixed-point dot + one double division as the batch family, so the
  drop rule is bit-identical to x_semdedup's within a batch (pinned by
  test: one-batch ingest over the whole corpus == x_semdedup's keeps).

Drop rule (matches the batch op's greedy-by-id): vec j is dropped iff
some vec i in the same fine cell has cosine >= threshold and either
i arrived in an earlier epoch, or i < j within the same batch. ALL
batch embeddings (kept and dropped) enter the store, which makes the
rule associative across micro-batch boundaries for monotone vec_ids.

Exactly-once under foreachBatch replay, compaction, and retention are
inherited verbatim from the corpus store (same epoch-partition
ownership, same ``_compact_store`` fold, same horizon filter).

Reference analog: the reference's streaming surface is the Kafka→
object-store consumer (`consumer/kafka_to_minio.py:15-24`); semantic
gating is part of this repo's training-data extension surface.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import CheckpointScope
from ..functions.similarity import cosine_against, fx_dot
from .corpus import (
    _compact_store,
    _effective_epoch,
    _horizon_filter,
)
from .epoch_store import epoch_ids, has_parquet_files

_SEM_THRESHOLD_DEFAULT = 0.35  # matches queries/round6b._SEMDEDUP_THRESHOLD
_CELL_BUCKETS = 64
_NPROBE = 4  # matches queries/round6b._SEM_NPROBE


def train_codebook(emb: DataFrame, path: str, order_cols=None) -> None:
    """Train and persist the two-level codebook from one batch: fine
    centroids are the batch's first k vectors (k = adaptive sqrt rule),
    coarse the first kc ≈ sqrt(k) (a prefix of the fine set), with the
    fine→coarse argmax map and squared norms precomputed — the same
    derivation as the batch quantizer (queries/round6b._two_level_cells)
    so a codebook trained on the WHOLE corpus reproduces x_semdedup's
    cells exactly. Overwrite-idempotent: a replayed bootstrap batch
    rewrites identical content.

    ``order_cols`` (a list of Column sort keys) replaces the default
    0-based-prefix rule (``vec_id < k``, the bootstrap contract) with a
    TakeOrdered prefix over those keys — the retrain path passes
    ``(src_epoch DESC, vec_id DESC)`` so the refreshed codebook is
    trained on the k MOST RECENT rows in the horizon, which is what
    makes the re-train track distribution drift. Cell labels stay the
    centroid rows' vec_ids either way (labels are arbitrary)."""
    from ..queries.llmdata import adaptive_cells
    from ..queries.round6b import coarse_cells

    n = emb.count()
    if n == 0:
        raise ValueError(
            "train_codebook: empty embedding batch — refusing to write "
            "an empty codebook (assign_cells would emit no cells and "
            "the gate would silently pass every document)"
        )
    k = adaptive_cells(n)
    kc = coarse_cells(k)
    if order_cols is None and emb.filter(F.col("vec_id") < k).count() < k:
        # Bootstrap contract assumes the first batch's vec_ids are a
        # 0-based contiguous prefix; a stream starting mid-corpus (or
        # with sparse ids) breaks that and would silently train an
        # undersized codebook. Fall back to the deterministic
        # TakeOrdered prefix the retrain path already uses.
        order_cols = [F.col("vec_id").asc()]
    if order_cols is None:
        fine_rows = emb.filter(F.col("vec_id") < k)
        coarse_rows = emb.filter(F.col("vec_id") < kc)
    else:
        fine_rows = emb.orderBy(*order_cols).limit(k)
        coarse_rows = emb.orderBy(*order_cols).limit(kc)
    coarse = (
        coarse_rows
        .select(F.col("vec_id").alias("ccid"), F.col("embedding").alias("ccv"))
        .withColumn("ccnn", fx_dot(F.col("ccv"), F.col("ccv")))
    )
    fine = (
        fine_rows
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .withColumn("cnn", fx_dot(F.col("cv"), F.col("cv")))
    )
    fmap = (
        fine.crossJoin(F.broadcast(coarse.select("ccid", "ccv")))
        .select(
            "cid", "ccid",
            cosine_against(F.col("ccv"), F.col("cv")).alias("cos"),
        )
        .groupBy("cid")
        .agg(
            F.max_by(
                "ccid",
                F.struct(F.col("cos").alias("c"), (-F.col("ccid")).alias("nc")),
            ).alias("ccid")
        )
    )
    fine.join(fmap, "cid").write.mode("overwrite").parquet(
        os.path.join(path, "fine")
    )
    coarse.write.mode("overwrite").parquet(os.path.join(path, "coarse"))


_CB_POINTER = "CURRENT"


def _codebook_dir(codebook_path: str) -> str:
    """Resolve the LIVE codebook generation. A retrain promotes its
    staged codebook by renaming the whole staged directory to
    ``gen-<e>`` (one atomic rename carrying fine AND coarse together)
    and then atomically replacing the ``CURRENT`` pointer file — so
    readers always see a complete, internally consistent (fine, coarse)
    pair: either the old generation or the new one, never a mix and
    never a missing half. No pointer = the bootstrap layout
    (fine/coarse at the codebook root)."""
    ptr = os.path.join(codebook_path, _CB_POINTER)
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(codebook_path, f.read().strip())
    return codebook_path


def assign_cells(emb: DataFrame, codebook_path: str) -> DataFrame:
    """(vec_id, cid, nn) fine-cell assignment against a PERSISTED
    codebook — the single-exchange multi-probe plan of the batch
    quantizer (queries/round6b._two_level_cells), with centroids read
    from parquet instead of derived from the corpus prefix: coarse
    scores partial-aggregate into a kc-entry list per vector, the
    top-_NPROBE coarse groups explode, and the fine argmax reuses the
    groupBy partitioning. Codebook frames broadcast (kc + k rows)."""
    from ..queries.round6b import _TL_CMP

    spark = emb.sparkSession
    live = _codebook_dir(codebook_path)
    coarse = spark.read.parquet(os.path.join(live, "coarse"))
    fine = spark.read.parquet(os.path.join(live, "fine"))
    cmp = _TL_CMP
    scored_cc = (
        emb.withColumn("__nn", fx_dot(F.col("embedding"), F.col("embedding")))
        .crossJoin(F.broadcast(coarse))
        .select(
            "vec_id", "embedding", "__nn",
            F.struct(
                (
                    fx_dot(F.col("ccv"), F.col("embedding")).cast("double")
                    / F.sqrt(
                        F.col("__nn").cast("double")
                        * F.col("ccnn").cast("double")
                    )
                ).alias("cos"),
                F.col("ccid").alias("ccid"),
            ).alias("s"),
        )
    )
    probed = (
        scored_cc.groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.first("__nn").alias("__nn"),
            F.collect_list("s").alias("__ss"),
        )
        .select(
            "vec_id", "embedding", "__nn",
            F.explode(
                F.expr(
                    f"transform(slice(array_sort(__ss, (x, y) -> {cmp}),"
                    f" 1, {_NPROBE}), t -> t.ccid)"
                )
            ).alias("ccid"),
        )
    )
    win = (
        probed.join(F.broadcast(fine), "ccid")
        .select(
            "vec_id",
            "cid",
            "__nn",
            (
                fx_dot(F.col("cv"), F.col("embedding")).cast("double")
                / F.sqrt(
                    F.col("__nn").cast("double") * F.col("cnn").cast("double")
                )
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("__nn").alias("nn"),
            F.max(
                F.struct(F.col("cos").alias("c"), (-F.col("cid")).alias("nc"))
            ).alias("w"),
        )
    )
    return win.select("vec_id", (-F.col("w.nc")).alias("cid"), "nn")


def semantic_ingest_batch(
    batch_emb: DataFrame,
    store_path: str,
    codebook_path: str,
    threshold: float = _SEM_THRESHOLD_DEFAULT,
    epoch_id: int | None = None,
    retention_epochs: int | None = None,
    per_cell_budget: int | None = None,
) -> DataFrame:
    """Gate ONE micro-batch of embeddings (`vec_id`, `embedding`)
    against the cell store, returning the surviving rows; writes every
    batch row (kept AND dropped) into the store. Trains the codebook
    from this batch if none exists (the epoch-0 bootstrap). Epoch
    semantics, replay safety, and retention mirror
    corpus.ingest_batch.

    ``per_cell_budget`` is the streaming twin of x_semdedup_capped's
    skew proof: only the first ``budget`` arrivals per fine cell
    (ordered by (epoch, vec_id) — deterministic, batching-invariant)
    become gating ANCHORS and enter the store. Every batch row is still
    gated (against store anchors and earlier same-batch anchors), so
    the pair stage is <= budget * N_batch at ANY skew — a replica
    burst of one document costs budget*N, not N^2/2 — and the live
    store is bounded at budget * k_cells rows. Identical survivors to
    the uncapped gate while no cell exceeds the budget (pinned by
    test); past the budget, over-full cells can MISS duplicates whose
    only match is a non-anchor, never false-drop. Replay-safe: the
    anchor head-count excludes the replayed epoch's own partition."""
    spark = batch_emb.sparkSession
    scope = CheckpointScope()
    if not os.path.exists(os.path.join(_codebook_dir(codebook_path), "fine")):
        train_codebook(batch_emb, codebook_path)
    m = (
        assign_cells(batch_emb, codebook_path)
        .join(batch_emb, "vec_id")
        .select(
            "vec_id", "cid", "nn", "embedding",
            F.pmod(F.col("cid"), F.lit(_CELL_BUCKETS)).alias("bucket"),
        )
    )
    store = None
    # has_parquet_files, not exists: upstream gates can empty whole
    # batches (rowless epoch partitions only) - see corpus.ingest_batch.
    if has_parquet_files(store_path):
        store = _horizon_filter(
            spark.read.parquet(store_path), epoch_id, retention_epochs
        )
    if per_cell_budget is not None:
        from pyspark.sql import Window

        rk = F.row_number().over(
            Window.partitionBy("cid").orderBy("vec_id")
        )
        m = m.withColumn("__rk", rk)
        if store is not None:
            # eager localCheckpoint severs the head frame's lineage from
            # the store files this batch later overwrites (the same
            # recompute-on-eviction guard the survivors frame gets)
            head = F.broadcast(
                scope.ckpt(store.groupBy("cid").agg(F.count("*").alias("__head")))
            )
            m = m.join(head, "cid", "left").withColumn(
                "__head", F.coalesce(F.col("__head"), F.lit(0))
            )
        else:
            m = m.withColumn("__head", F.lit(0))
        m = m.withColumn(
            "__anchor",
            (F.col("__head") + F.col("__rk")) <= int(per_cell_budget),
        ).drop("__rk", "__head")
    m.persist()
    a_src = m.filter("__anchor") if per_cell_budget is not None else m
    a = a_src.select(
        F.col("cid").alias("ca"), F.col("vec_id").alias("i"),
        F.col("embedding").alias("ea"), F.col("nn").alias("na"),
    )
    b = m.select(
        F.col("cid").alias("cb"), F.col("vec_id").alias("j"),
        F.col("embedding").alias("eb"), F.col("nn").alias("nb"),
    )
    pair_cos = fx_dot(F.col("eb"), F.col("ea")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("i") < F.col("j")))
        .filter(pair_cos >= threshold)
        .select(F.col("j").alias("vec_id"))
        .distinct()
    )
    if store is not None:
        store_a = store.select(
            F.col("cid").alias("ca"), F.col("vec_id").alias("i"),
            F.col("embedding").alias("ea"), F.col("nn").alias("na"),
            "bucket",
        )
        # redundant bucket equi-key activates dynamic partition pruning:
        # the store scan reads only the cid buckets this batch touches
        probe = m.select(
            F.col("cid").alias("cb"), F.col("vec_id").alias("j"),
            F.col("embedding").alias("eb"), F.col("nn").alias("nb"),
            "bucket",
        )
        dropped_vs_store = (
            store_a.join(probe, ["bucket"])
            .filter(F.col("ca") == F.col("cb"))
            .filter(pair_cos >= threshold)
            .select(F.col("j").alias("vec_id"))
            .distinct()
        )
        dropped = dropped.unionByName(dropped_vs_store).distinct()
    survivors = batch_emb.join(dropped, "vec_id", "left_anti")
    survivors = survivors.localCheckpoint(eager=True)
    out = m
    if per_cell_budget is not None:
        out = out.filter("__anchor").drop("__anchor")
    out = out.repartition("bucket")
    if epoch_id is not None:
        out = out.withColumn("src_epoch", F.lit(int(epoch_id)))
        out.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(store_path, f"epoch={int(epoch_id)}")
        )
    else:
        out.write.mode("append").partitionBy("bucket").parquet(store_path)
    m.unpersist()
    scope.release()  # head: the verdict and the store write are done
    return survivors


def compact_semantic_store(
    spark: SparkSession,
    store_path: str,
    epoch_id: int,
    retention_epochs: int | None = None,
) -> None:
    """Fold the cell store's history into one ``epoch=-<e>`` base —
    the corpus store's crash-safe compaction applied to the
    bucket-partitioned semantic layout."""
    _compact_store(spark, store_path, epoch_id, "bucket", retention_epochs)


def _lloyd_refine(rows: DataFrame, staged: str, iters: int) -> None:
    """Deterministic spherical-Lloyd refinement of the staged FINE
    centroids over the horizon rows, rewriting the staged codebook in
    place: per round one broadcast cosine assignment (flat k×N — the
    training pass needs no probe approximation at k ≈ √N; two-level it
    if k·N outgrows a stage) plus one (cid, dim) integer-sum agg whose
    k×dim floor-means come back to the driver — the exact-fixed-point
    k-means shape of x_ann_ivf_trained (queries/llmdata.py:1852).
    Empty cells keep their previous vector. Floor means land on dyadic
    rationals |i| < 2^24 so the float32 round-trip back into the
    codebook is exact and the refinement bit-deterministic."""
    import math

    from ..functions.similarity import FIXED_POINT_SCALE, fixed_point

    spark = rows.sparkSession
    fine = spark.read.parquet(os.path.join(staged, "fine"))
    old = {
        r["cid"]: [math.floor(float(x) * FIXED_POINT_SCALE) for x in r["cv"]]
        for r in fine.select("cid", "cv").collect()
    }
    ccids = [
        r["ccid"]
        for r in spark.read.parquet(os.path.join(staged, "coarse"))
        .select("ccid")
        .collect()
    ]
    fxv = rows.select(
        "vec_id", F.transform("embedding", fixed_point).alias("v")
    )
    # self-norm computed ONCE per vector, not once per (vector, centroid)
    fxv = fxv.withColumn(
        "__nn",
        F.aggregate(
            F.zip_with("v", "v", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    fxv.persist()
    try:
        cents = sorted(old.items())
        for _ in range(int(iters)):
            cdf = spark.createDataFrame(
                [(cid, cv, sum(c * c for c in cv)) for cid, cv in cents],
                "cid long, cv array<bigint>, cnn long",
            )
            dot = F.aggregate(
                F.zip_with("v", "cv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            cos = dot.cast("double") / F.sqrt(
                F.col("__nn").cast("double") * F.col("cnn").cast("double")
            )
            assigned = (
                fxv.crossJoin(F.broadcast(cdf))
                .select("vec_id", "v", "cid", cos.alias("cos"))
                .groupBy("vec_id")
                .agg(
                    F.first("v").alias("v"),
                    F.max(
                        F.struct(
                            F.col("cos").alias("c"), (-F.col("cid")).alias("nc")
                        )
                    ).alias("w"),
                )
                .select("v", (-F.col("w.nc")).alias("cid"))
            )
            sums = (
                assigned.select("cid", F.posexplode("v").alias("i", "x"))
                .groupBy("cid", "i")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            by_cid: dict[int, dict[int, int]] = {}
            for r in sums:
                by_cid.setdefault(r["cid"], {})[r["i"]] = math.floor(
                    r["s"] / r["cnt"]
                )
            cents = sorted(
                (
                    cid,
                    [by_cid[cid][i] for i in sorted(by_cid[cid])]
                    if cid in by_cid
                    else cv,
                )
                for cid, cv in cents
            )
    finally:
        fxv.unpersist()
    scale = float(FIXED_POINT_SCALE)
    refined = spark.createDataFrame(
        [(cid, [x / scale for x in cv]) for cid, cv in cents],
        "cid long, cv array<float>",
    ).withColumn("cnn", fx_dot(F.col("cv"), F.col("cv")))
    coarse = refined.filter(F.col("cid").isin(ccids)).select(
        F.col("cid").alias("ccid"),
        F.col("cv").alias("ccv"),
        F.col("cnn").alias("ccnn"),
    )
    fmap = (
        refined.crossJoin(F.broadcast(coarse.select("ccid", "ccv")))
        .select(
            "cid", "ccid",
            cosine_against(F.col("ccv"), F.col("cv")).alias("cos"),
        )
        .groupBy("cid")
        .agg(
            F.max_by(
                "ccid",
                F.struct(F.col("cos").alias("c"), (-F.col("ccid")).alias("nc")),
            ).alias("ccid")
        )
    )
    new_fine = refined.join(fmap, "cid").localCheckpoint(eager=True)
    new_coarse = coarse.localCheckpoint(eager=True)
    new_fine.write.mode("overwrite").parquet(os.path.join(staged, "fine"))
    new_coarse.write.mode("overwrite").parquet(os.path.join(staged, "coarse"))


def retrain_semantic_codebook(
    spark: SparkSession,
    store_path: str,
    codebook_path: str,
    epoch_id: int,
    retention_epochs: int | None = None,
    per_cell_budget: int | None = None,
    lloyd_iters: int = 0,
) -> None:
    """Offline codebook re-train + full re-assign — the codebook-drift
    remedy the store's epoch partitioning was designed to support, as
    code rather than documentation. Protocol:

    1. The horizon rows (``eff < epoch_id``, retention applied, deduped
       on vec_id — dropped rows included: they are gating state) train
       a FRESH codebook on the k most-recent ``(src_epoch, vec_id)``
       embeddings, staged at ``<codebook_path>/staged-<e>``;
       ``lloyd_iters > 0`` then refines the staged fine centroids with
       that many deterministic fixed-point k-means rounds over the
       horizon rows (`_lloyd_refine`) — the recall rung above the
       prefix-sample codebook when drift coverage matters.
    2. EVERY horizon row is re-assigned to its new fine cell and the
       relabeled rows replace history as the compacted base
       ``epoch=-<e>`` (``src_epoch`` preserved, so the retention
       horizon keeps working afterwards).
    3. The staged codebook is promoted ATOMICALLY: one directory rename
       moves the whole staged generation (fine AND coarse together) to
       ``gen-<e>``, then the ``CURRENT`` pointer file is replaced with
       ``os.replace`` — readers resolve through `_codebook_dir`, so
       they always see a complete, matched (fine, coarse) pair.
       Superseded generations and epoch partitions are dropped last.

    Crash anywhere mid-protocol degrades candidate generation only
    (mixed-cid store vs old codebook can MISS duplicates — the live
    codebook itself is never missing or half-swapped); the
    exact-cosine refinement means nothing is ever falsely dropped, and
    re-running the retrain at the same epoch completes the swap — the
    prefix rule and assignment are deterministic, so the re-run is
    idempotent (same codebook, same base rewrite). Run it between
    batches (the ``retrain_every`` hook in ``start_semantic_ingest``),
    never concurrently with a gate."""
    if not os.path.exists(store_path):
        return
    df = spark.read.parquet(store_path)
    if "epoch" not in df.columns:
        raise ValueError(
            "retrain_semantic_codebook requires an epoch-partitioned store "
            "(ingest with epoch_id); a flat append-mode store has no epoch "
            "layout for the rebuilt base to replace"
        )
    rows = (
        df.withColumn("src_epoch", _effective_epoch(df).cast("long"))
        .drop("epoch")
        .filter(F.col("src_epoch") < int(epoch_id))
    )
    if retention_epochs is not None:
        rows = rows.filter(
            F.col("src_epoch") >= int(epoch_id) - int(retention_epochs)
        )
    rows = rows.select("vec_id", "embedding", "src_epoch").dropDuplicates(
        ["vec_id"]
    )
    rows.persist()
    try:
        if rows.limit(1).count() == 0:
            return
        staged = os.path.join(codebook_path, f"staged-{int(epoch_id)}")
        train_codebook(
            rows,
            staged,
            order_cols=[F.col("src_epoch").desc(), F.col("vec_id").desc()],
        )
        if lloyd_iters:
            _lloyd_refine(rows, staged, lloyd_iters)
        base = (
            assign_cells(rows.select("vec_id", "embedding"), staged)
            .join(rows, "vec_id")
            .select(
                "vec_id", "cid", "nn", "embedding",
                F.pmod(F.col("cid"), F.lit(_CELL_BUCKETS)).alias("bucket"),
                "src_epoch",
            )
        )
        if per_cell_budget is not None:
            # re-assignment can overfill a new cell: re-cap to the
            # first-(src_epoch, vec_id) budget rows per cell so the
            # gate's anchors-only store invariant survives the retrain
            from pyspark.sql import Window

            rk = F.row_number().over(
                Window.partitionBy("cid").orderBy("src_epoch", "vec_id")
            )
            base = (
                base.withColumn("__rk", rk)
                .filter(F.col("__rk") <= int(per_cell_budget))
                .drop("__rk")
            )
        base = base.repartition("bucket").localCheckpoint(eager=True)
        base.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(store_path, f"epoch=-{int(epoch_id)}")
        )
        gen_name = f"gen-{int(epoch_id)}"
        gen = os.path.join(codebook_path, gen_name)
        if os.path.exists(gen):
            # a crashed earlier attempt renamed but never promoted —
            # the pointer doesn't reference it, safe to rebuild
            shutil.rmtree(gen)
        os.rename(staged, gen)
        tmp = os.path.join(codebook_path, _CB_POINTER + ".tmp")
        with open(tmp, "w") as f:
            f.write(gen_name)
        os.replace(tmp, os.path.join(codebook_path, _CB_POINTER))
        # cleanup AFTER the atomic pointer flip: superseded generations,
        # the legacy bootstrap layout, stale staging dirs, old epochs
        for name in os.listdir(codebook_path):
            if name == gen_name or name == _CB_POINTER:
                continue
            if (
                name.startswith(("gen-", "staged-"))
                or name in ("fine", "coarse")
            ):
                shutil.rmtree(
                    os.path.join(codebook_path, name), ignore_errors=True
                )
        for e in epoch_ids(store_path):
            if e < int(epoch_id) and e != -int(epoch_id):
                shutil.rmtree(
                    os.path.join(store_path, f"epoch={e}"), ignore_errors=True
                )
    finally:
        rows.unpersist()


def start_semantic_ingest(
    spark: SparkSession,
    src_path: str,
    store_path: str,
    codebook_path: str,
    out_path: str,
    checkpoint: str,
    schema,
    max_files_per_trigger: int = 1,
    compact_every: int | None = 8,
    retention_epochs: int | None = None,
    retrain_every: int | None = None,
    retrain_lloyd_iters: int = 0,
    **gate_kwargs,
):
    """File-source streaming wrapper: each discovered file is one
    micro-batch through `semantic_ingest_batch`; survivors append to
    `out_path` in per-epoch partitions (replay overwrites, never
    duplicates). availableNow drains the backlog then stops.

    ``retrain_every=N`` re-trains the codebook on the most recent
    horizon rows every N epochs (see `retrain_semantic_codebook`);
    a retrain subsumes that epoch's compaction (it folds the whole
    horizon into the base). The retrain runs at ``epoch + 1`` so the
    just-gated batch is re-assigned too — a replay of that batch after
    a crash then re-gates against the NEW codebook and rewrites its
    live partition consistently (the only cost is benign duplicate
    store rows for the replayed ids, which the next retrain's
    vec_id dedup removes)."""
    gate_kwargs.setdefault("retention_epochs", retention_epochs)

    def on_batch(batch_df: DataFrame, epoch: int) -> None:
        kept = semantic_ingest_batch(
            batch_df, store_path, codebook_path, epoch_id=epoch, **gate_kwargs
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(out_path, f"epoch={int(epoch)}")
        )
        if retrain_every and epoch > 0 and epoch % retrain_every == 0:
            retrain_semantic_codebook(
                spark, store_path, codebook_path, epoch + 1,
                retention_epochs=gate_kwargs["retention_epochs"],
                per_cell_budget=gate_kwargs.get("per_cell_budget"),
                lloyd_iters=retrain_lloyd_iters,
            )
        elif compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_semantic_store(
                spark, store_path, epoch,
                retention_epochs=gate_kwargs["retention_epochs"],
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(src_path)
    )
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
