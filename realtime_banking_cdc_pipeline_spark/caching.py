"""Session-scoped cache registry.

Several operators persist() an intermediate frame that is read by more
than one downstream join (LSH signatures, hyperplane buckets, scored
corpus subtrees). A query-builder function cannot unpersist that frame
itself — the returned DataFrame is lazy, and the cache must be live
when the CALLER finally executes it. Left alone, every invocation in a
long-lived session (a driver looping over 65 queries, a notebook, a
scheduled job) leaks cached blocks into executor storage memory.

Failure tolerance: localCheckpoint blocks cannot be recomputed — on a
real cluster an executor loss mid-query fails the query. SCALE.md
"localCheckpoint is not failure-tolerant" documents the per-operator
cluster remedies (reliable `spark.checkpoint.dir` checkpoints for the
iterative loops, replicated persists for shared frames).

``track_persist`` is the persist() those operators use: it registers
the frame in a module-level list so hosts can bulk-release between
queries with ``release_caches()`` — bench.py does this between timed
queries, tools/driver_sim.py between correctness checks. Spark's
storage eviction (caches are LRU-evictable, not pinned) bounds the
damage if a host never calls it, but explicit release is the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_TRACKED_RDDS: list = []  # (SparkContext, rdd_id) pairs from localCheckpoints
# ``_TRACKED_RDDS`` length at which ``track_local_checkpoint`` next
# drops the entries Spark no longer persists (doubling: amortized O(1))
_PRUNE_FLOOR = 16
_prune_at = _PRUNE_FLOOR


def track_persist(df: DataFrame) -> DataFrame:
    """persist() a frame and register it for later bulk release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` + register its checkpoint RDD for
    ``release_caches``.

    The iterative graph operators cut lineage with eager
    localCheckpoints; those blocks live in executor storage but are NOT
    in the CacheManager, so ``DataFrame.unpersist`` is a no-op on them
    and a long sweep (212 registry queries back-to-back) accumulates
    them until the JVM heap fills. The checkpointed RDD only surfaces
    in ``SparkContext.getPersistentRDDs`` — we diff that registry
    around the checkpoint call (query builds are driver-side
    sequential, so the diff is exactly this call's RDD) and record the
    id; ``release_caches`` unpersists it by id.

    Caveat vs ``track_persist``: a freed localCheckpoint cannot be
    recomputed (lineage is gone) — releasing must happen BETWEEN
    queries, after results are consumed, which is already the
    ``release_caches`` contract.

    A host that never calls ``release_caches`` (a stream checkpointing
    its Medallion state every batch) still keeps the registry bounded:
    Spark's ContextCleaner unpersists a checkpoint once no frame reads
    it, and each time the registry doubles, the ids Spark no longer
    persists are dropped from it.
    """
    global _prune_at
    if len(_TRACKED_RDDS) >= _prune_at:
        _TRACKED_RDDS[:] = [(sc, rid) for sc, rid in _TRACKED_RDDS if _persisted(sc, rid)]
        _prune_at = max(_PRUNE_FLOOR, 2 * len(_TRACKED_RDDS))
    return _checkpoint_and_record(df, _TRACKED_RDDS)


def _persisted(sc, rid: int) -> bool:
    try:
        return bool(sc._jsc.getPersistentRDDs().containsKey(rid))
    except Exception:  # session stopped: nothing left to release
        return False


def _checkpoint_and_record(df: DataFrame, sink: list) -> DataFrame:
    """Eager localCheckpoint; append the checkpoint's RDD id to
    ``sink`` as a (SparkContext, rdd_id) pair. The id is read DIRECTLY
    off the returned frame's LogicalRDD plan node (r17) — exact and
    THREAD-SAFE, unlike the former getPersistentRDDs before/after
    diff, which assumed strictly sequential driver-side builds and
    would attribute a concurrent thread's checkpoint to the wrong
    releaser (the reason monitors/store writes could not previously
    overlap). On Spark Connect (no sparkContext / _jdf) or a stopped
    session the tracking degrades to a plain untracked localCheckpoint
    instead of raising."""
    out = df.localCheckpoint(eager=True)
    try:
        sc = df.sparkSession.sparkContext
        rid = int(out._jdf.queryExecution().logical().rdd().id())
        sink.append((sc, rid))
    except Exception:
        pass
    return out


class CheckpointScope:
    """Deterministic release for localCheckpoints whose lifetime is one
    code block (a streaming micro-batch, one store compaction): take
    checkpoints via :meth:`ckpt`, call :meth:`release` when every frame
    derived from them has been consumed. Unlike the module-level
    ``release_caches`` registry this frees ONLY its own checkpoints, so
    a streaming foreachBatch can clean up after itself without touching
    frames a concurrent query sweep still needs. Tracking reads the
    checkpoint RDD id off the frame's own plan (r17), so scopes on
    concurrent driver threads no longer interfere — release() still
    belongs to whichever code owns the scope."""

    def __init__(self) -> None:
        self._rdds: list = []

    def ckpt(self, df: DataFrame) -> DataFrame:
        return _checkpoint_and_record(df, self._rdds)

    def adopt(self, *frames: DataFrame) -> None:
        """Take over the checkpoints ``frames`` read (a callee's returned
        localCheckpoint, or a frame derived from one): their
        ``LogicalRDD`` leaves' RDD ids, which ``release`` frees."""
        for df in frames:
            try:
                sc = df.sparkSession.sparkContext
                leaves = df._jdf.queryExecution().logical().collectLeaves()
                for i in range(leaves.size()):
                    leaf = leaves.apply(i)
                    if leaf.getClass().getSimpleName() == "LogicalRDD":
                        self._rdds.append((sc, int(leaf.rdd().id())))
            except Exception:
                pass

    def release(self) -> int:
        return _release_rdds(self._rdds)

    def __enter__(self) -> "CheckpointScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def promote_scope(scope: CheckpointScope) -> None:
    """Move a scope's checkpoints into the global registry — for frames
    that OUTLIVE the scope (e.g. an iterative loop's final round, which
    the caller's returned DataFrame still reads). The host's
    ``release_caches()`` frees them between queries as usual. Iterative
    operators use per-round scopes + this promotion so that retired
    round-(i-1) checkpoints are freed INSIDE the loop (O(1) live
    checkpoints in rounds) instead of accumulating O(rounds × |V|)
    executor storage until the host releases (r16 verdict #2)."""
    _TRACKED_RDDS.extend(scope._rdds)
    scope._rdds.clear()


def _release_rdds(rdds: list) -> int:
    n = 0
    while rdds:
        sc, rid = rdds.pop()
        try:
            jmap = sc._jsc.getPersistentRDDs()
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)
                n += 1
        except Exception:
            pass
    return n


def release_caches() -> int:
    """Unpersist every tracked frame and checkpoint RDD
    (blocking=False); returns how many were released. Safe to call at
    any time between queries — frames already executed simply drop
    their blocks; frames never executed drop nothing. Do NOT call while
    a returned-but-not-yet-collected frame depends on a tracked
    localCheckpoint (those cannot recompute). Like the tracking side,
    this assumes SEQUENTIAL driver-side builds: hosts call it between
    queries on the one thread that built them; work that runs
    concurrently with query builds (an overlapping stream) must use its
    own ``CheckpointScope`` instead of this global registry."""
    global _prune_at
    _prune_at = _PRUNE_FLOOR
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — nothing to release
            pass
    n += _release_rdds(_TRACKED_RDDS)
    return n
