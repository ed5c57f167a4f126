"""The committed-base epoch-store protocol every streaming store shares
(the HLL/CMS/DDSketch/Bloom sketch stores, the coverage and KMV novelty
stores, the curation-plan stores) — the idempotent epoch-keyed sink of
Structured Streaming (SIGMOD 2018) applied to store state.

Layout: each micro-batch writes ONLY its own ``epoch=<id>`` partition
(overwrite), so no write ever clears accumulated history — a
driver/executor failure mid-write can at worst lose the in-flight
batch's partition, which the replayed batch rewrites identically
(batch-determined rows). The store's logical value is a fold over its
partitions on READ.

Compaction keeps the partition count bounded: the fold of the live
partitions below a ``horizon`` is written to a fresh base partition
``epoch=-<e>`` — never a source of the fold (batch partitions are >= 0,
earlier bases are ``-e'`` with ``e' < e``), so sources stay on disk
untouched during the write — and only then are the subsumed
partitions deleted. A REPLAYED compaction epoch never rewrites its
base (that would make ``epoch=-<e>`` both a fold source and the
overwrite target, re-opening the clear-then-crash window this layout
closes): a base with a ``_SUCCESS`` marker is durable and only
leftover sources are cleared; a base WITHOUT the marker is a crashed
partial write (its sources are still on disk — deletion runs only
after commit), so it is dropped and refolded.

Live set (base subsumption): the newest COMMITTED base ``epoch=-b``
plus batch epochs ``>= b``. A crash mid-delete leaves subsumed
partitions next to the committed base; additive state (CMS, DDSketch,
tallies) would count them twice on a naive read, idempotent state
(HLL max, Bloom OR, distinct/bottom-k unions) merely re-folds them.
Reading the live set makes leftovers cleanup debt, never corruption,
for every merge class alike.

Horizon: stores whose per-batch output PROBES earlier state (Bloom,
coverage, KMV) or whose state is additive (CMS, DDSketch, tally) fold
STRICTLY EARLIER epochs (``horizon=epoch_id``): a replay of the
triggering epoch must still overwrite its own partition without its
rows baked into the only base it can probe. Batch e runs only after
batch e-1's checkpoint committed, so epochs below the trigger can
never be replayed once folded. HLL folds everything
(``horizon=epoch_id + 1``): max-merge is idempotent, so baking the
triggering epoch in is harmless.

State stays constant-size per store: one base plus at most
``compact_every`` batch partitions between compactions.

The tiered corpus/semantic/substr stores (streaming/corpus.py) keep
their own multi-generation fold but share the directory helpers here.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import CheckpointScope


def part_path(path: str, epoch: int) -> str:
    """Directory of partition ``epoch=<epoch>`` (negative = base)."""
    return os.path.join(path, f"epoch={int(epoch)}")


def epoch_ids(path: str) -> list[int]:
    """Epoch partition ids present on disk ([] for a missing or flat
    store)."""
    if not os.path.exists(path):
        return []
    return [
        int(name.split("=", 1)[1])
        for name in os.listdir(path)
        if name.startswith("epoch=")
    ]


def has_parquet_files(part_dir: str) -> bool:
    """True iff the directory holds at least one parquet data file
    (possibly nested, e.g. bucket=N subdirs). A rowless write leaves
    only _SUCCESS — readable via a root scan, but an explicit
    per-partition read cannot infer its schema. False for a missing
    directory."""
    for _base, _dirs, files in os.walk(part_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def is_committed(path: str, epoch: int) -> bool:
    return os.path.exists(os.path.join(part_path(path, epoch), "_SUCCESS"))


def mark_committed(path: str, epoch: int) -> None:
    open(os.path.join(part_path(path, epoch), "_SUCCESS"), "w").close()


def compaction_due(epoch_id: int, every: int | None) -> bool:
    """The shared cadence: compact at every positive multiple of
    ``every`` (``None``/0 = never)."""
    return bool(every) and epoch_id > 0 and epoch_id % every == 0


def committed_bases(path: str) -> list[int]:
    """Ascending magnitudes of base partitions with a durable
    ``_SUCCESS``."""
    return sorted(
        -e for e in epoch_ids(path) if e < 0 and is_committed(path, e)
    )


def live_epoch_ids(path: str, before: int | None = None) -> list[int]:
    """The live partitions under base subsumption: the newest committed
    base plus batch epochs >= its magnitude (and < ``before``).
    Uncommitted bases and subsumed leftovers are excluded."""
    bases = committed_bases(path)
    floor = bases[-1] if bases else 0
    batches = sorted(
        e
        for e in epoch_ids(path)
        if e >= floor and (before is None or e < before)
    )
    return ([-floor] if bases else []) + batches


def read_live(
    spark: SparkSession, path: str, before: int | None = None
) -> DataFrame:
    """The live partitions' rows (``epoch`` dropped) — what every fold
    and probe reads. A flat (unpartitioned) store reads whole."""
    df = spark.read.parquet(path)
    if "epoch" not in df.columns:
        return df
    live = live_epoch_ids(path, before)
    return df.filter(F.col("epoch").isin(live)).drop("epoch")


def compact(
    spark: SparkSession,
    path: str,
    epoch_id: int,
    fold: Callable[[DataFrame], DataFrame],
    horizon: int,
) -> None:
    """Fold the live partitions below ``horizon`` into the base
    ``epoch=-<epoch_id>`` with ``fold``, then delete every partition
    below ``horizon`` the base subsumes (see the module docstring for
    the replay guard and the choice of horizon). The fold's lineage is
    cut by one scope-released checkpoint, so no block outlives the
    call."""
    if epoch_id <= 0:
        raise ValueError("compaction epoch must be positive")
    base = -int(epoch_id)
    if not is_committed(path, base):
        shutil.rmtree(part_path(path, base), ignore_errors=True)
        if not epoch_ids(path):
            return
        with CheckpointScope() as scope:
            folded = scope.ckpt(fold(read_live(spark, path, before=horizon)))
            folded.write.mode("overwrite").parquet(part_path(path, base))
    for e in epoch_ids(path):
        if e < horizon and e != base:
            shutil.rmtree(part_path(path, e), ignore_errors=True)
