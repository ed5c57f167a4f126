"""Operator-level tests: dedup tiebreaks, SCD2 edge cases, incremental
merge idempotency — the FIXTURES.md §2 edge-case list at unit scale."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from realtime_banking_cdc_pipeline_spark.operators.dedup import dedup_latest
from realtime_banking_cdc_pipeline_spark.operators.incremental import incremental_merge
from realtime_banking_cdc_pipeline_spark.operators.scd2 import (
    scd2_apply,
    scd2_from_change_log,
)
from realtime_banking_cdc_pipeline_spark.plans.plan_checks import (
    join_count,
    shuffle_count,
)

T0 = dt.datetime(2024, 1, 1)


def _rows(spark, data, schema="id long, v string, ts timestamp, seq long"):
    return spark.createDataFrame(data, schema)


def test_dedup_latest_tiebreak_deterministic(spark):
    # equal ts → seq (lsn analog) must break the tie, not arrival order
    df = _rows(
        spark,
        [
            (1, "old", T0, 1),
            (1, "new", T0, 2),  # same ts, later seq wins
            (2, "only", T0, 1),
        ],
    )
    out = {r["id"]: r["v"] for r in dedup_latest(df, ["id"], ["ts", "seq"]).collect()}
    assert out == {1: "new", 2: "only"}


def test_dedup_latest_redelivery_idempotent(spark):
    base = [(1, "a", T0, 1), (1, "b", T0 + dt.timedelta(seconds=1), 2)]
    df = _rows(spark, base + base)  # exact duplicates redelivered
    out = dedup_latest(df, ["id"], ["ts", "seq"]).collect()
    assert len(out) == 1 and out[0]["v"] == "b"


def test_scd2_replay_collapses_noop_updates(spark):
    log = _rows(
        spark,
        [
            (1, "x", T0, 1),
            (1, "x", T0 + dt.timedelta(minutes=1), 2),  # no-op: no new version
            (1, "y", T0 + dt.timedelta(minutes=2), 3),  # change
        ],
    )
    hist = scd2_from_change_log(
        log, key="id", as_of_col="ts", tiebreak_cols=["seq"], check_cols=["v"]
    ).collect()
    assert len(hist) == 2
    current = [h for h in hist if h["is_current"]]
    assert len(current) == 1 and current[0]["v"] == "y"
    closed = [h for h in hist if not h["is_current"]][0]
    assert closed["valid_to"] == current[0]["valid_from"]


def test_scd2_apply_full_cycle(spark):
    snap = scd2_apply(
        None,
        _rows(spark, [(1, "a", T0, 1), (2, "b", T0, 2)]),
        key="id",
        check_cols=["v"],
        as_of_col="ts",
        tiebreak_cols=["seq"],
    )
    t1 = T0 + dt.timedelta(hours=1)
    updates = _rows(
        spark,
        [
            (1, "a2", t1, 3),   # changed → close + open
            (2, "b", t1, 4),    # no-op → keep
            (3, "c", t1, 5),    # brand new → open
            (3, "c2", t1, 6),   # intra-batch second change → only latest applies
        ],
    )
    out = scd2_apply(
        snap, updates, key="id", check_cols=["v"], as_of_col="ts", tiebreak_cols=["seq"]
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["id"], []).append(r)
    assert {r["v"] for r in by_key[1]} == {"a", "a2"}
    assert [r for r in by_key[1] if r["is_current"]][0]["v"] == "a2"
    assert [r for r in by_key[1] if not r["is_current"]][0]["valid_to"] == t1
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    assert len(by_key[3]) == 1 and by_key[3][0]["v"] == "c2"


def test_scd2_apply_redelivered_batch_is_idempotent(spark):
    snap = scd2_apply(
        None, _rows(spark, [(1, "a", T0, 1)]),
        key="id", check_cols=["v"], as_of_col="ts", tiebreak_cols=["seq"],
    )
    t1 = T0 + dt.timedelta(hours=1)
    batch = _rows(spark, [(1, "b", t1, 2)])
    once = scd2_apply(snap, batch, "id", ["v"], "ts", ["seq"])
    twice = scd2_apply(once, batch, "id", ["v"], "ts", ["seq"])
    assert sorted(
        [(r["id"], r["v"], r["is_current"]) for r in twice.collect()]
    ) == sorted([(r["id"], r["v"], r["is_current"]) for r in once.collect()])


def test_incremental_merge_upsert_and_idempotency(spark):
    target = _rows(spark, [(1, "a", T0, 1), (2, "b", T0, 2)])
    t1 = T0 + dt.timedelta(hours=1)
    batch = _rows(spark, [(2, "b2", t1, 3), (3, "c", t1, 4)])
    merged = incremental_merge(target, batch, "id", order_by=["ts", "seq"])
    # one keyed merge: target and batch meet in a single exchange on the
    # key (counted before execution: an executed plan lists it twice)
    assert shuffle_count(merged) == 1
    out = {r["id"]: r["v"] for r in merged.collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}
    again = incremental_merge(merged, batch, "id", order_by=["ts", "seq"])
    assert {r["id"]: r["v"] for r in again.collect()} == out
    # the unordered (batch-wins) merge is the same fold: no join
    blind = incremental_merge(target, batch, "id")
    assert join_count(blind) == 0
    assert {r["id"]: r["v"] for r in blind.collect()} == out


def test_plan_counts_read_the_same_before_and_after_execution(spark):
    """Once a frame has run, AQE prints its final plan beside its initial
    one. The counters read one plan, so a pin holds whether it is read
    before or after an action (a sort-merge join and an aggregate). The
    join shuffles both inputs; the left one's exchange prints under a
    ``:`` continuation of the join and counts too."""
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        a = spark.range(100).selectExpr("id % 7 AS k", "id AS v")
        b = spark.range(50).selectExpr("id % 7 AS k", "id AS w")
        agg, smj = a.groupBy("k").count(), a.join(b, "k")
        counts = {}
        for name, df in (("agg", agg), ("smj", smj)):
            before = (shuffle_count(df), join_count(df))
            df.collect()
            counts[name] = (before, (shuffle_count(df), join_count(df)))
    finally:
        spark.conf.set(threshold, prior)
    assert counts["agg"] == ((1, 0), (1, 0))
    assert counts["smj"] == ((2, 1), (2, 1))


def test_connected_components_chain_and_isolated(spark):
    """Min-label propagation: a 5-node chain (diameter > 1 round)
    collapses to its min id; isolated nodes from `nodes` self-label."""
    from realtime_banking_cdc_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                  "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_snapshot_diff_emits_minimal_change_set(spark):
    """i/u/d emission incl. NULL transitions (null-safe compare) and
    unchanged-row suppression."""
    from realtime_banking_cdc_pipeline_spark.operators.incremental import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
        "k long, v string, n long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged -> omitted
         (2, "B", 20),        # value change -> update
         (3, "c", 30),        # NULL -> value -> update
         (5, "e", 50)],       # new key -> insert; key 4 gone -> delete
        "k long, v string, n long",
    )
    got = {r["k"]: r["op"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}
    # compare_cols restriction: diffs outside the listed columns ignored
    got_n = {
        r["k"]: r["op"]
        for r in snapshot_diff(old, new, ["k"], compare_cols=["n"]).collect()
    }
    assert got_n == {4: "delete", 5: "insert"}


def test_connected_components_star_matches_min_label(spark):
    """Large-star/small-star contraction returns the same (id, min-id
    component) labeling as min-label propagation — chain, triangle,
    isolated nodes, and a two-component mix."""
    from realtime_banking_cdc_pipeline_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 99]], "id long"
    )
    want = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(edges, nodes=nodes).collect()
    }
    assert got == want == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 99: 99
    }


def test_connected_components_star_logarithmic_on_long_chain(spark):
    """The reason the star variant exists: a 200-node chain (diameter
    199, far beyond min-label's default 30-round budget) converges in
    the default 25 alternations without a non-convergence warning."""
    import warnings

    from realtime_banking_cdc_pipeline_spark.operators.components import (
        connected_components_star,
    )

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["component"]
            for r in connected_components_star(edges).collect()
        }
    assert not [w for w in caught if "converge" in str(w.message)]
    assert got == {i: 0 for i in range(n)}


def test_connected_components_warns_when_not_converged(spark):
    """max_iter below the component diameter must not return silently
    wrong labels (r2 advisor): a RuntimeWarning fires."""
    import warnings

    from realtime_banking_cdc_pipeline_spark.operators.components import (
        connected_components,
    )

    # 6-node chain: min-label needs >1 round to reach the far end
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(edges, max_iter=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "converge" in str(w.message)
        for w in caught
    )
    # and a sufficient budget stays silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r["id"]: r["component"]
            for r in connected_components(edges).collect()
        }
    assert not [w for w in caught if "converge" in str(w.message)]
    assert got == {i: 1 for i in range(1, 7)}


def test_pii_rules_edge_cases_cross_engine(spark):
    """The r2 advisor's PII gaps, fixed and pinned cross-engine: bare
    10-digit phones redact, >255 octets are not IPs, digit runs inside
    longer identifiers stay intact — and Spark ≡ DuckDB on every case
    (the rules are the contract; both engines render the same list)."""
    import duckdb

    from realtime_banking_cdc_pipeline_spark.functions.text import redact_pii
    from realtime_banking_cdc_pipeline_spark.queries.llmdata import _dd_pii_expr

    cases = [
        "call 5551234567 now",            # unseparated phone -> redacted
        "call 555-123-4567 now",          # separated phone
        "call +555-123-4567 now",         # leading +
        "ssn 123-45-6789 here",           # SSN-shaped id
        "host 10.0.0.1 up",               # valid IP
        "weird 999.1.2.3 quad",           # octet > 255: NOT an IP
        "semver 1.2.3.4 released",        # in-range quad: matches (documented)
        "hex deadbeef1234567890 intact",  # digits inside a longer id: intact
        "a@b.co mail",                    # email
        "order 123456789 only-9-digits",  # 9 digits: not a phone
    ]
    sdf = spark.createDataFrame([(c,) for c in cases], "text string")
    got_spark = [r[0] for r in sdf.select(redact_pii("text")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(c,) for c in cases])
    got_duck = [r[0] for r in con.execute(f"SELECT {_dd_pii_expr()} FROM t").fetchall()]
    assert got_spark == got_duck
    assert got_spark == [
        "call <PHONE> now",
        "call <PHONE> now",
        "call <PHONE> now",
        "ssn <ID> here",
        "host <IP> up",
        "weird 999.1.2.3 quad",
        "semver <IP> released",
        "hex deadbeef1234567890 intact",
        "<EMAIL> mail",
        "order 123456789 only-9-digits",
    ]


def test_assign_split_is_stable_and_partition_independent(spark):
    """Hash-split invariants: re-running and repartitioning never move a
    row, and shares land near the requested 90/5/5."""
    from realtime_banking_cdc_pipeline_spark.functions.sampling import assign_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r["k"]: r["split"] for r in assign_split(df, "k").collect()}
    b = {
        r["k"]: r["split"]
        for r in assign_split(df.repartition(7), "k").collect()
    }
    assert a == b
    from collections import Counter

    shares = Counter(a.values())
    assert 0.85 < shares["train"] / 2000 < 0.95
    assert shares["validation"] > 0 and shares["test"] > 0
    # a different salt deals an uncorrelated split
    c = {r["k"]: r["split"] for r in assign_split(df, "k", salt="v2").collect()}
    assert c != a


def test_image_decode_bmp_and_corrupt(spark):
    """Pure-numpy decoder: 24-bit BMP (bottom-up rows, 4-byte padding)
    round-trips exact channel sums; corrupt payloads yield null features
    instead of failing the batch."""
    import struct

    import numpy as np

    from realtime_banking_cdc_pipeline_spark.functions.multimodal import (
        decode_image,
        extract_image_features,
        synthesize_ppm,
    )

    # hand-built 3x2 24-bit BMP, distinct channel values per pixel
    w, h = 3, 2
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = rgb[y, :, ::-1].tobytes()  # BGR on disk
        body += row + b"\x00" * (row_bytes - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    f = decode_image(bytes(header + body))
    assert (f["width"], f["height"]) == (w, h)
    assert f["sum_r"] == int(rgb[:, :, 0].sum())
    assert f["sum_g"] == int(rgb[:, :, 1].sum())
    assert f["sum_b"] == int(rgb[:, :, 2].sum())

    # PPM synth/decode agree with a direct numpy computation
    p = decode_image(synthesize_ppm(7, 4, 5))
    idx = np.arange(4 * 5 * 3, dtype=np.int64)
    vals = (7 + idx) % 256
    assert (p["sum_r"], p["sum_g"], p["sum_b"]) == (
        int(vals[0::3].sum()), int(vals[1::3].sum()), int(vals[2::3].sum())
    )

    # distributed path: one good payload, one garbage payload
    media = spark.createDataFrame(
        [(1, synthesize_ppm(1, 8, 8)), (2, b"\xff\xd8 not decodable")],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert rows[1]["width"] == 8 and rows[1]["sum_r"] is not None
    assert rows[2]["width"] is None and rows[2]["sum_r"] is None


def test_incremental_rollup_matches_full_recompute(spark):
    """Aggregate maintenance from deltas: two incremental applications
    equal the direct rollup over all data, for sum/count/min/max."""
    from realtime_banking_cdc_pipeline_spark.operators.incremental import (
        incremental_rollup,
    )

    measures = {
        "total": ("sum", "x"),
        "n": ("count", "x"),
        "lo": ("min", "x"),
        "hi": ("max", "x"),
    }
    b1 = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2)], "g string, x long"
    )
    b2 = spark.createDataFrame(
        [("a", -3), ("c", 7), ("b", 10)], "g string, x long"
    )
    r = incremental_rollup(None, b1, ["g"], measures)
    r = incremental_rollup(r, b2, ["g"], measures)
    want = incremental_rollup(None, b1.unionByName(b2), ["g"], measures)
    key = lambda df: sorted(tuple(row) for row in df.collect())  # noqa: E731
    assert key(r) == key(want)
    got = {row["g"]: (row["total"], row["n"], row["lo"], row["hi"])
           for row in r.collect()}
    assert got == {"a": (3, 3, -3, 5), "b": (12, 2, 2, 10), "c": (7, 1, 7, 7)}


def test_schema_evolution_read_and_align(spark, tmp_path):
    """An upstream column addition (Debezium starts emitting a new
    field) must not break the pipeline: merged reads null-fill old
    files, and align_to_schema reconciles old-state/new-batch unions."""
    import pytest
    from pyspark.sql import types as T

    from realtime_banking_cdc_pipeline_spark.sources.evolution import (
        align_to_schema,
        read_merged,
    )

    p = str(tmp_path / "ev")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(p)

    merged = read_merged(spark, p)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("added_later", T.StringType()),
        ]
    )
    old_batch = spark.createDataFrame([(3, "c", "junk")],
                                      "id long, v string, legacy string")
    aligned = align_to_schema(old_batch, target)
    assert aligned.columns == ["id", "v", "score", "added_later"]
    r = aligned.collect()[0]
    assert (r["id"], r["v"], r["score"], r["added_later"]) == (3, "c", None, None)
    # widened batch unions cleanly with reconciled state
    assert align_to_schema(merged, target).unionByName(aligned).count() == 3
    with pytest.raises(ValueError, match="legacy"):
        align_to_schema(old_batch, target, strict_extras=True)


def test_track_local_checkpoint_release(spark):
    """r13: localCheckpoint blocks are NOT in the CacheManager, so
    DataFrame.unpersist never frees them — track_local_checkpoint must
    register the checkpoint RDD id and release_caches() must unpersist
    it (the 212-query default-heap sweep regression)."""
    from realtime_banking_cdc_pipeline_spark import caching

    caching.release_caches()  # clean slate
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    df = caching.track_local_checkpoint(spark.range(0, 1000).toDF("id"))
    assert df.count() == 1000
    assert jsc.getPersistentRDDs().size() > base, "checkpoint RDD not registered"
    assert len(caching._TRACKED_RDDS) >= 1
    freed = caching.release_caches()
    assert freed >= 1
    assert jsc.getPersistentRDDs().size() == base, "checkpoint blocks not freed"
    assert not caching._TRACKED_RDDS


def test_tracked_checkpoints_stay_bounded_without_release(spark):
    """A host that never calls release_caches() (a stream checkpointing
    its state every batch) does not grow the registry without bound:
    checkpoints Spark has freed (as its ContextCleaner does once no
    frame reads them) are dropped from it, live ones are kept."""
    from realtime_banking_cdc_pipeline_spark import caching

    caching.release_caches()  # clean slate
    jsc = spark.sparkContext._jsc
    live = caching.track_local_checkpoint(spark.range(5))
    live_id = caching._TRACKED_RDDS[-1][1]
    for _ in range(40):
        caching.track_local_checkpoint(spark.range(3))
        jsc.getPersistentRDDs().get(caching._TRACKED_RDDS[-1][1]).unpersist(False)
    assert len(caching._TRACKED_RDDS) <= 16
    assert live_id in {rid for _sc, rid in caching._TRACKED_RDDS}
    assert live.count() == 5
    caching.release_caches()


def test_connected_components_live_checkpoints_o1_in_rounds(spark):
    """r17 (r16 verdict #2): the iterative loop frees the retired
    round-(i-1) localCheckpoint INSIDE the loop via CheckpointScope —
    live checkpoint blocks stay O(1) in rounds instead of
    O(rounds x |V|). After the build, only the edge checkpoint and the
    final round's labels (promoted to the global registry) remain;
    release_caches() then frees those too."""
    from realtime_banking_cdc_pipeline_spark import caching
    from realtime_banking_cdc_pipeline_spark.operators.components import (
        connected_components,
    )

    caching.release_caches()  # clean slate
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    # 40-node chain: needs several propagation rounds even with the
    # pointer-jump acceleration, so a leak would show as >> 2 RDDs
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    got = connected_components(edges)
    live = jsc.getPersistentRDDs().size() - base
    # sym + final labels only (each localCheckpoint registers one RDD)
    assert live <= 2, f"per-round checkpoints leaked: {live} live RDDs"
    assert {r["component"] for r in got.collect()} == {0}
    caching.release_caches()
    assert jsc.getPersistentRDDs().size() == base


def test_events_table_scopes_nanos_as_long(spark, tmp_path):
    """A ns-precision ``events.parquet`` reads as exact µs timestamps,
    and the ``nanosAsLong`` setting the read needs does not outlive it
    (it used to leak into every later parquet read in the session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_banking_cdc_pipeline_spark.queries._det import events_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    ns = [1_700_000_000_123_456_000, 1_700_000_001_000_001_000, 5_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    ev = events_table(spark, str(tmp_path))
    assert spark.conf.get(key, None) == before
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = [
        r["us"]
        for r in ev.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
    ]
    assert got == [v // 1000 for v in ns]
