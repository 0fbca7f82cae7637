"""Hybrid replay + CDC streaming over file-based update logs (the local
stand-in for the RT Kafka topic — identical readStream code path)."""

import pytest
import os

import pyspark.sql.functions as F

from venice_spark.catalog import StoreCatalog
from venice_spark.streaming.cdc import ChangeCaptureStream, change_events_batch, seek_to_timestamp
from venice_spark.streaming.hybrid import HybridReplay, latest_wins

SCHEMA = "key string, val double, ts long"


def test_latest_wins_with_deletes(spark):
    df = spark.createDataFrame(
        [
            ("a", 1.0, 10, "PUT"),
            ("a", 2.0, 20, "PUT"),
            ("b", 9.0, 10, "PUT"),
            ("b", 0.0, 30, "DELETE"),
        ],
        schema=SCHEMA + ", op string",
    )
    out = {r["key"]: r["val"] for r in latest_wins(df, ["key"], "ts").collect()}
    assert out == {"a": 2.0}


def test_hybrid_replay_file_stream(spark, tmp_path):
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)

    serving = str(tmp_path / "serving")
    spark.createDataFrame(
        [("a", 1.0, 10), ("b", 1.0, 10)], schema=SCHEMA
    ).write.parquet(serving)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    spark.createDataFrame(
        [("a", 5.0, 20), ("c", 7.0, 15)], schema=SCHEMA
    ).write.mode("append").parquet(rt_dir)

    replay = HybridReplay(spark, catalog, "h", serving)
    stream = spark.readStream.schema(SCHEMA).parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = {r["key"]: r["val"] for r in spark.read.parquet(serving).collect()}
    assert out == {"a": 5.0, "b": 1.0, "c": 7.0}
    # ready-to-serve: serving caught up with the RT batch
    rt = spark.read.parquet(rt_dir)
    assert replay.ready_to_serve(rt, lag_threshold_seconds=0)


def test_hybrid_rewind_filters_old_rows(spark, tmp_path):
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=100)

    serving = str(tmp_path / "serving")
    spark.createDataFrame([("a", 1.0, 10)], schema=SCHEMA).write.parquet(serving)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    # ts=500 is older than now(1000) - rewind(100) -> dropped; ts=950 kept
    spark.createDataFrame(
        [("a", 99.0, 500), ("b", 2.0, 950)], schema=SCHEMA
    ).write.mode("append").parquet(rt_dir)

    replay = HybridReplay(spark, catalog, "h", serving, now_ts=1000)
    stream = spark.readStream.schema(SCHEMA).parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = {r["key"]: r["val"] for r in spark.read.parquet(serving).collect()}
    assert out == {"a": 1.0, "b": 2.0}


def test_latest_wins_null_op_is_put(spark):
    # rows from an op-less source (e.g. the serving table) union'd with an
    # op-carrying stream get op=NULL — they must count as PUTs, not vanish
    df = spark.createDataFrame(
        [("a", 1.0, 10, None), ("b", 2.0, 20, "PUT"), ("c", 3.0, 5, "DELETE")],
        schema=SCHEMA + ", op string",
    )
    out = {r["key"]: r["val"] for r in latest_wins(df, ["key"], "ts").collect()}
    assert out == {"a": 1.0, "b": 2.0}


def test_hybrid_replay_op_stream_keeps_serving_only_keys(spark, tmp_path):
    """Serving keys untouched by an op-carrying micro-batch must survive
    (regression: NULL op on serving rows used to fail the DELETE filter)."""
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)

    serving = str(tmp_path / "serving")
    spark.createDataFrame(
        [("a", 1.0, 10), ("b", 1.0, 10)], schema=SCHEMA
    ).write.parquet(serving)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    spark.createDataFrame(
        [("a", 5.0, 20, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)

    replay = HybridReplay(spark, catalog, "h", serving)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"a": 5.0, "b": 1.0}


@pytest.mark.slow
def test_hybrid_replay_tombstone_blocks_stale_put(spark, tmp_path):
    """A DELETE persists as a tombstone in the serving table, so a stale PUT
    (older ts) arriving in a LATER micro-batch cannot resurrect the key —
    the arrival-order determinism contract (Merge.java:27-31)."""
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)

    serving = str(tmp_path / "serving")
    spark.createDataFrame([("a", 1.0, 10), ("b", 2.0, 10)], schema=SCHEMA).write.parquet(serving)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving)

    # micro-batch 1: delete 'a' at ts=50
    spark.createDataFrame(
        [("a", 0.0, 50, "DELETE")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert {r["key"] for r in replay.read().collect()} == {"b"}

    # micro-batch 2: stale PUT for 'a' at ts=30 (< tombstone's 50)
    spark.createDataFrame(
        [("a", 9.0, 30, "PUT"), ("b", 3.0, 60, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"b": 3.0}  # 'a' stays deleted
    # a FRESH put (ts > tombstone) does resurrect
    spark.createDataFrame(
        [("a", 7.0, 70, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    q = replay.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"a": 7.0, "b": 3.0}


@pytest.mark.slow
def test_hybrid_replay_append_mode(spark, tmp_path):
    """mode='append': each micro-batch appends batch-resolved rows (O(batch)
    per trigger, base never rewritten); reads resolve base ∪ appends; the
    tombstone / stale-PUT contract holds across batches; compact() folds
    the log without changing content."""
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)

    serving = str(tmp_path / "serving")
    spark.createDataFrame(
        [("a", 1.0, 10), ("b", 2.0, 10)], schema=SCHEMA
    ).write.parquet(serving)
    import glob

    base_files = set(glob.glob(f"{serving}/*.parquet"))

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving, mode="append", compact_every=0)

    # batch 1: update a, delete b
    spark.createDataFrame(
        [("a", 5.0, 20, "PUT"), ("b", 0.0, 30, "DELETE")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)

    # base files untouched (append mode never rewrites them)
    assert base_files <= set(glob.glob(f"{serving}/*.parquet"))
    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"a": 5.0}

    # batch 2: stale PUT for b (ts=25 < tombstone 30) must NOT resurrect
    spark.createDataFrame(
        [("b", 9.0, 25, "PUT"), ("c", 7.0, 15, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)
    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out == {"a": 5.0, "c": 7.0}

    # compaction: content identical. Physically the superseded files are
    # RETAINED one cycle (deferred GC — reader-isolation contract, r7):
    # the folded rows land stamped above everything, `_gc_pending.json`
    # names the old files, and the NEXT compact deletes them.
    pre_compact_reader = replay.read()  # plan resolved BEFORE the compact
    replay.compact()
    out2 = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out2 == out
    # the pre-compact reader still executes against its retained snapshot
    assert {r["key"]: r["val"] for r in pre_compact_reader.collect()} == out
    from venice_spark.streaming.hybrid import gc_pending, run_deferred_gc

    assert gc_pending(serving) is not None
    # grace expires: after GC the log is physically one row per key
    run_deferred_gc(serving)
    raw = spark.read.option("mergeSchema", "true").parquet(serving)
    assert raw.count() == raw.select("key").distinct().count()
    # tombstone for b still present post-compaction (stale-PUT protection)
    assert raw.filter(F.col("op") == "DELETE").count() == 1
    # content still identical after GC
    assert {r["key"]: r["val"] for r in replay.read().collect()} == out


def test_hybrid_append_mode_matches_rewrite_mode(spark, tmp_path):
    """Determinism: the same RT log replayed through both modes yields the
    same final state (batching/merge strategy must never change content —
    Merge.java:27-31 extended to the materialization strategy)."""
    rows = [
        ("a", 1.0, 10, "PUT"), ("a", 3.0, 30, "PUT"), ("a", 2.0, 20, "PUT"),
        ("b", 4.0, 15, "PUT"), ("b", 0.0, 15, "DELETE"),   # delete wins tie
        ("c", 6.0, 11, "PUT"), ("c", 0.0, 10, "DELETE"),
    ]
    states = {}
    for mode in ("rewrite", "append"):
        root = str(tmp_path / f"cat_{mode}")
        catalog = StoreCatalog(root)
        catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
        serving = str(tmp_path / f"serving_{mode}")
        spark.createDataFrame([("z", 9.0, 1)], schema=SCHEMA).write.parquet(serving)
        rt_dir = str(tmp_path / f"rt_{mode}")
        os.makedirs(rt_dir)
        replay = HybridReplay(spark, catalog, "h", serving, mode=mode)
        spark.createDataFrame(rows, schema=SCHEMA + ", op string").write.mode(
            "append"
        ).parquet(rt_dir)
        stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
        replay.start(stream, str(tmp_path / f"ckpt_{mode}")).awaitTermination(120)
        states[mode] = {(r["key"], r["val"], r["ts"]) for r in replay.read().collect()}
    assert states["rewrite"] == states["append"]
    assert states["append"] == {("a", 3.0, 30), ("c", 6.0, 11), ("z", 9.0, 1)}


def test_change_events_batch(spark):
    log = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 2.0, 20), ("b", 5.0, 15)], schema=SCHEMA
    )
    ev = change_events_batch(log, ["key"], "val", "ts")
    rows = {(r["key"], r["ts"]): (r["before"], r["after"]) for r in ev.collect()}
    assert rows[("a", 10)] == (None, 1.0)
    assert rows[("a", 20)] == (1.0, 2.0)
    assert rows[("b", 15)] == (None, 5.0)
    # seekToTimestamp drops earlier coordinates
    assert seek_to_timestamp(ev, "ts", 15).count() == 2


def test_cdc_stream_with_snapshot(spark, tmp_path):
    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    spark.createDataFrame(
        [("a", 1.0, 10, "PUT"), ("a", 2.0, 20, "PUT"), ("b", 3.0, 12, "PUT"), ("b", 0.0, 25, "DELETE")],
        schema=SCHEMA + ", op string",
    ).write.mode("append").parquet(rt_dir)

    cdc = ChangeCaptureStream(
        spark,
        snapshot_dir=str(tmp_path / "snap"),
        out_dir=str(tmp_path / "changes"),
        key_fields=["key"],
        value_col="val",
    )
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    q = cdc.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    ev = spark.read.parquet(str(tmp_path / "changes"))
    rows = {(r["key"], r["ts"]): (r["before"], r["after"], r["op"]) for r in ev.collect()}
    assert rows[("a", 10)] == (None, 1.0, "PUT")
    assert rows[("a", 20)] == (1.0, 2.0, "PUT")
    assert rows[("b", 25)][1] is None and rows[("b", 25)][2] == "DELETE"
    # snapshot: only 'a' remains (b deleted)
    snap = {r["key"]: r["val"] for r in spark.read.parquet(str(tmp_path / "snap")).collect()}
    assert snap == {"a": 2.0}


@pytest.mark.slow
def test_cdc_parity_across_serving_modes_and_compaction(spark, tmp_path):
    """VERDICT r5 #3: the change-event stream is a function of the RT op
    log ALONE (reference contract VeniceChangelogConsumer.java:19-209 —
    every mutation, exactly once). The r5 serving-LSM change (append-mode
    default, compaction coalescing winners to one stamp) must be invisible
    to a changelog consumer: serving the same store through the append LSM
    (with a forced compaction) and the rewrite table yields identical live
    views, leaves the RT log byte-untouched, and a checkpointed CDC
    consumer re-run after serve+compact emits ZERO new events."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.producer import read_rt_log

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("h", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("h", spark.createDataFrame([(1, "base")], "k long, v string"))
    st = eng.store("h")
    fs = "k long, op string, ts long, colo int, v string"
    p = st.producer()
    p.put(10, {"v": "v1"}, ts=100)
    p.flush(schema=fs)
    p.put(10, {"v": "v2"}, ts=200)
    p.delete(11, ts=150)
    p.flush(schema=fs)
    p.put(11, {"v": "w1"}, ts=250)
    p.delete(10, ts=300)
    p.flush(schema=fs)

    rt_dir = eng.catalog.update_log_dir("h")
    schema = read_rt_log(spark, eng.catalog, "h").schema
    rt_files_before = sorted(
        f for f in os.listdir(rt_dir) if f.endswith(".parquet")
    )

    out_dir, ckpt_cdc = str(tmp_path / "changes"), str(tmp_path / "ckpt_cdc")
    cdc = ChangeCaptureStream(
        spark, str(tmp_path / "snap"), out_dir, ["k"], "v", ts_col="ts"
    )
    cdc.start(
        spark.readStream.schema(schema).parquet(rt_dir), ckpt_cdc
    ).awaitTermination(120)
    ev0 = sorted(
        (r["k"], r["ts"], r["op"], r["before"], r["after"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # every mutation, exactly once, with correct before/after
    assert ev0 == [
        (10, 100, "PUT", None, "v1"),
        (10, 200, "PUT", "v1", "v2"),
        (10, 300, "DELETE", "v2", None),
        (11, 150, "DELETE", None, None),
        (11, 250, "PUT", None, "w1"),
    ]

    # two serving replicas of the SAME log, one per mode
    def replica(mode, tag, compact_every):
        serving = str(tmp_path / f"serving_{tag}")
        base = st.df().drop("partition_id").withColumn(
            "ts", F.lit(0).cast("long")
        )
        base.write.parquet(serving)
        r = HybridReplay(
            spark, eng.catalog, "h", serving, mode=mode, compact_every=compact_every
        )
        r.start(
            spark.readStream.schema(schema).parquet(rt_dir),
            str(tmp_path / f"ckpt_{tag}"),
        ).awaitTermination(120)
        return r

    ra = replica("append", "a", compact_every=0)
    rb = replica("rewrite", "b", compact_every=0)
    ra.compact()
    view_a = {r["k"]: r["v"] for r in ra.read().collect()}
    view_b = {r["k"]: r["v"] for r in rb.read().collect()}
    assert view_a == view_b == {1: "base", 11: "w1"}, "serving-mode parity broken"

    # serving + compaction fabricated no change events and consumed nothing
    assert (
        sorted(f for f in os.listdir(rt_dir) if f.endswith(".parquet"))
        == rt_files_before
    ), "serving touched the RT log"
    cdc.start(
        spark.readStream.schema(schema).parquet(rt_dir), ckpt_cdc
    ).awaitTermination(120)
    ev1 = sorted(
        (r["k"], r["ts"], r["op"], r["before"], r["after"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert ev1 == ev0, "serve/compact fabricated change events"


def test_version_diff_events(spark, tmp_path):
    """CDC across a version swap: adds, changes, and removals between two
    immutable versions; unchanged keys emit nothing."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.cdc import version_diff_events

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("s", key_fields=["k"], partition_count=4)
    v1 = eng.push(
        "s",
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, name string, v double"
        ),
    ).version
    v2 = eng.push(
        "s",
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "B", 2.5), (4, "d", 4.0)], "k long, name string, v double"
        ),
    ).version

    ev = {r["k"]: r for r in version_diff_events(spark, eng.catalog, "s", v1, v2).collect()}
    assert set(ev) == {2, 3, 4}  # key 1 unchanged -> absent
    assert ev[2]["op"] == "PUT" and ev[2]["before"]["name"] == "b" and ev[2]["after"]["name"] == "B"
    assert ev[3]["op"] == "DELETE" and ev[3]["after"] is None
    assert ev[4]["op"] == "PUT" and ev[4]["before"] is None and ev[4]["after"]["v"] == 4.0


def test_seek_to_timestamps_per_partition(spark):
    from venice_spark.streaming.cdc import seek_to_timestamps

    rows = [(p, t) for p in range(3) for t in (10, 20, 30)]
    ev = spark.createDataFrame(rows, "part int, ts long")
    out = seek_to_timestamps(ev, "ts", "part", {0: 25, 1: 15})
    got = sorted((r["part"], r["ts"]) for r in out.collect())
    # p0 seeks to >=25, p1 to >=15, p2 untouched
    assert got == [(0, 30), (1, 20), (1, 30), (2, 10), (2, 20), (2, 30)]


def test_seek_to_beginning_of_push(spark, tmp_root):
    """Events before the current version's swap instant are skipped; a
    store without any push raises."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.cdc import seek_to_beginning_of_push

    eng = VeniceSparkEngine(spark, tmp_root)
    eng.create_store("s", key_fields=["k"], partition_count=2)
    eng.push("s", spark.createDataFrame([(1, "x")], "k long, v string"))
    committed = eng.catalog.version_manifest("s")["committed_at"]
    ev = spark.createDataFrame(
        [(1, int((committed - 100) * 1000)), (2, int((committed + 100) * 1000))],
        "k long, ts long",
    )
    out = seek_to_beginning_of_push(ev, "ts", eng.catalog, "s", ts_scale=1e3)
    assert [r["k"] for r in out.collect()] == [2]

    eng.create_store("empty", key_fields=["k"])
    import pytest as _pt

    with _pt.raises(ValueError, match="swap time"):
        seek_to_beginning_of_push(ev, "ts", eng.catalog, "empty")


def test_cdc_null_op_rows_are_puts_and_delete_then_put_before(spark, tmp_path):
    """Two review regressions: (1) NULL-op rows must be PUTs everywhere —
    in the snapshot advance AND the event emission; (2) a PUT following a
    DELETE of the same key within one batch has before=NULL, never the
    resurrected pre-delete value."""
    snap_dir = str(tmp_path / "snap")
    out_dir = str(tmp_path / "events")
    ccs = ChangeCaptureStream(spark, snap_dir, out_dir, ["k"], "v", "ts")
    seed = spark.createDataFrame([(1, "v0", 0), (2, "w0", 0)], "k long, v string, ts long")
    ccs._process_batch(seed.withColumn("op", F.lit("PUT")), 0)
    batch = spark.createDataFrame(
        [(1, None, 10, "DELETE"), (1, "v2", 20, None),  # NULL op = PUT
         (2, "w1", 10, None)],
        "k long, v string, ts long, op string",
    )
    ccs._process_batch(batch, 1)
    snap = {r["k"]: r["v"] for r in spark.read.parquet(snap_dir).collect()}
    # k=1's NULL-op PUT must survive the snapshot advance; k=2 updated
    assert snap == {1: "v2", 2: "w1"}
    ev = {(r["k"], r["ts"]): (r["op"], r["before"], r["after"])
          for r in spark.read.parquet(out_dir).collect() if r["ts"] >= 10}
    assert ev[(1, 10)] == ("DELETE", "v0", None)
    # the PUT after the in-batch DELETE: key was absent -> before is NULL
    assert ev[(1, 20)] == ("PUT", None, "v2")
    assert ev[(2, 10)] == ("PUT", "w0", "w1")


def test_rollup_to_store_bootstraps_fresh_store(spark, tmp_path):
    """run_rollup_to_store's first batch into a never-pushed store must
    bootstrap with a full push instead of crashing in incremental_push."""
    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.windows import run_rollup_to_store, windowed_rollup

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("roll", key_fields=["window_start", "user_id"], partition_count=2)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1_700_000_000_000_000_000 + i * 10**9, 1.0) for i in range(10)],
        "user_id long, ts long, value double",
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts long, value double").parquet(src)
    roll = windowed_rollup(stream, "ts", ["user_id"], {"n": "count(*)"},
                           window_duration="5 seconds", watermark_delay="0 seconds")
    q = run_rollup_to_store(roll, eng, "roll", str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert eng.catalog.current_version("roll") >= 1
    assert eng.store("roll").df().count() > 0


def test_resolve_latest_put_put_tie_is_order_independent(spark):
    """code-review r4: two PUTs for one key with identical ts (cross-colo
    writes in one micro-batch) must resolve identically regardless of
    arrival/shuffle order — the value-hash tiebreak, mirroring the DCR
    kernel's value comparison."""
    from venice_spark.streaming.hybrid import resolve_latest

    rows = [("k", "alpha", 10), ("k", "beta", 10), ("k", "gamma", 5)]
    winners = set()
    for perm in ([0, 1, 2], [1, 0, 2], [2, 1, 0], [1, 2, 0]):
        df = spark.createDataFrame(
            [rows[i] for i in perm], "key string, val string, ts long"
        ).repartition(4)
        out = resolve_latest(df, ["key"], "ts").collect()
        assert len(out) == 1
        winners.add(out[0]["val"])
    assert len(winners) == 1 and winners <= {"alpha", "beta"}


def test_cdc_snapshot_equal_ts_delete_wins(spark, tmp_path):
    """code-review r4: an equal-ts PUT/DELETE pair in one micro-batch must
    resolve delete-wins (the resolve_latest rule) in the CDC snapshot, not
    by shuffle order."""
    import os

    from venice_spark.streaming.cdc import ChangeCaptureStream

    for perm in (0, 1):
        out_dir = str(tmp_path / f"out{perm}")
        snap_dir = str(tmp_path / f"snap{perm}")
        src = str(tmp_path / f"src{perm}")
        rows = [("k", 1.0, 10, "PUT"), ("k", None, 10, "DELETE")]
        if perm:
            rows = rows[::-1]
        spark.createDataFrame(
            rows, "key string, val double, ts long, op string"
        ).write.parquet(src)
        stream = spark.readStream.schema(
            "key string, val double, ts long, op string"
        ).parquet(src)
        cc = ChangeCaptureStream(
            spark, snap_dir, out_dir, key_fields=["key"], value_col="val", ts_col="ts"
        )
        q = cc.start(stream, str(tmp_path / f"ckpt{perm}"))
        q.awaitTermination(120)
        assert not os.path.isdir(snap_dir) or spark.read.parquet(
            snap_dir
        ).count() == 0, "equal-ts DELETE must win over the PUT"


def test_cdc_snapshot_equal_ts_put_tie_matches_served_value(spark, tmp_path):
    """Two PUTs for one key at one ts: the CDC snapshot must keep the value
    the store serves (latest_wins: larger canonical JSON of the value), so
    the next batch's `before` is a value a reader actually saw. A separate
    hash tie-break once kept 'v10' here while the store served 'v21'."""
    from venice_spark.streaming.hybrid import latest_wins

    schema = "key string, val string, ts long, op string"
    batch = spark.createDataFrame(
        [("k", "v21", 10, "PUT"), ("k", "v10", 10, "PUT")], schema
    )
    served = latest_wins(batch, ["key"], "ts").collect()[0]["val"]
    assert served == "v21"

    snap_dir = str(tmp_path / "snap")
    out_dir = str(tmp_path / "events")
    ccs = ChangeCaptureStream(spark, snap_dir, out_dir, ["key"], "val", "ts")
    ccs._process_batch(batch, 0)
    snap = {r["key"]: r["val"] for r in spark.read.parquet(snap_dir).collect()}
    assert snap == {"k": served}

    ccs._process_batch(spark.createDataFrame([("k", "v3", 20, "PUT")], schema), 1)
    nxt = [r for r in spark.read.parquet(out_dir).collect() if r["ts"] == 20]
    assert [(r["op"], r["before"], r["after"]) for r in nxt] == [("PUT", served, "v3")]


def _dir_bytes(path):
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_hybrid_append_per_batch_bytes_scale_with_batch(spark, tmp_path):
    """VERDICT r4 #3 cost contract: in append mode (the hybrid_serve
    default) a micro-batch's write cost scales with the BATCH, not the
    store — a 10-row trigger against a 20k-row serving table must write
    a tiny fraction of the table's bytes, and the per-trigger cost must
    stay flat as triggers accumulate (rewrite mode pays O(table) per
    trigger by design; that is what the default moved away from)."""
    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)

    serving = str(tmp_path / "serving")
    base = spark.range(20_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") * 1.0).alias("val"),
        F.lit(0).cast("long").alias("ts"),
    )
    base.write.parquet(serving)
    base_bytes = _dir_bytes(serving)

    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving, mode="append", compact_every=0)

    per_batch = []
    for i in range(3):
        rows = [(f"k{j}", 99.0 + i, 100 + i, "PUT") for j in range(10 * i, 10 * i + 10)]
        spark.createDataFrame(rows, schema=SCHEMA + ", op string").write.mode(
            "append"
        ).parquet(rt_dir)
        before = _dir_bytes(serving)
        stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
        replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)
        per_batch.append(_dir_bytes(serving) - before)

    # every trigger's write bytes are a small fraction of the table
    assert all(b < base_bytes / 5 for b in per_batch), (per_batch, base_bytes)
    # and flat across triggers (no creeping table-proportional rewrite)
    assert max(per_batch) < 3 * max(min(per_batch), 1), per_batch
    # content is right: 30 updated keys at the new values
    out = {r["key"]: r["val"] for r in replay.read().collect()}
    assert len(out) == 20_000
    assert out["k0"] == 99.0 and out["k25"] == 101.0

    # compact() folds the log; content unchanged, slots folded away
    replay.compact()
    out2 = {r["key"]: r["val"] for r in replay.read().collect()}
    assert out2 == out


def test_rewrite_mode_refuses_append_shaped_log(spark, tmp_path):
    """code-review r5: opening an append-mode serving log with
    mode='rewrite' must refuse loudly — rewrite reads are bare (no
    mergeSchema, no resolve) and would silently serve one row per append."""
    import pytest

    root = str(tmp_path / "cat")
    catalog = StoreCatalog(root)
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame([("a", 1.0, 10)], schema=SCHEMA).write.parquet(serving)
    rt_dir = str(tmp_path / "rt")
    os.makedirs(rt_dir)
    replay = HybridReplay(spark, catalog, "h", serving, mode="append", compact_every=0)
    spark.createDataFrame(
        [("a", 5.0, 20, "PUT")], schema=SCHEMA + ", op string"
    ).write.mode("append").parquet(rt_dir)
    stream = spark.readStream.schema(SCHEMA + ", op string").parquet(rt_dir)
    replay.start(stream, str(tmp_path / "ckpt")).awaitTermination(120)

    with pytest.raises(ValueError, match="append-mode hybrid log"):
        HybridReplay(spark, catalog, "h", serving, mode="rewrite")
    # append-mode reopening still works and serves the resolved view
    again = HybridReplay(spark, catalog, "h", serving, mode="append")
    assert {r["key"]: r["val"] for r in again.read().collect()} == {"a": 5.0}


@pytest.mark.slow
def test_hybrid_facade_auto_compaction_fires(spark, tmp_path):
    """code-review r5: hybrid_serve builds a fresh HybridReplay per call,
    so an in-memory append counter would never trigger compaction in the
    documented flush-then-serve loop; the pressure metric is the log's
    distinct-stamp count (which compact() coalesces to one)."""
    from venice_spark.engine import VeniceSparkEngine

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("hc", key_fields=["k"], partition_count=2, hybrid=True)
    eng.push("hc", spark.createDataFrame([(1, "a")], "k long, v string"))
    st = eng.store("hc")
    p = st.producer()
    for i in range(4):
        p.put(10 + i, {"v": f"v{i}"}, ts=100 + i)
        p.flush(schema="k long, op string, ts long, colo int, v string")
        st.hybrid_serve(compact_every=2)
    serving = os.path.join(eng.catalog.store_dir("hc"), "serving")
    # superseded files are retained one GC cycle (r7 reader isolation), so
    # the physical distinct-stamp count includes them — the LIVE pressure
    # metric is what auto-compaction reads
    from venice_spark.streaming.hybrid import gc_pending, log_stamp_pressure

    assert gc_pending(serving) is not None, "auto-compaction never fired"
    _, n_stamps = log_stamp_pressure(spark, serving, "__batch")
    assert n_stamps <= 2, f"auto-compaction never fired ({n_stamps} live stamps)"
    out = {r["k"]: r["v"] for r in st.hybrid_serve().read().collect()}
    assert out == {1: "a", 10: "v0", 11: "v1", 12: "v2", 13: "v3"}


def test_concurrent_serving_writers_serialize_without_sidecar_loss(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 #4: the serving-LSM single-writer assumption is now a
    LOCK, not prose. Two handles merging into one store concurrently used
    to interleave extend_log_schema's read-union-replace — the last
    replace silently dropped the other writer's new column from every
    future read. With the store writer lock the merges serialize; the
    sleep inside the sidecar read guarantees the unlocked interleaving
    would lose a column, so this test is a deterministic regression."""
    import threading
    import time

    import venice_spark.streaming.hybrid as hyb
    from venice_spark.streaming.hybrid import mark_seeded_version

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame([("s", 0.0, 1)], schema=SCHEMA).write.parquet(serving)
    mark_seeded_version(serving, 1)

    h1 = HybridReplay(spark, catalog, "h", serving, mode="append")
    h2 = HybridReplay(spark, catalog, "h", serving, mode="append")

    real = hyb.log_schema

    def slow(d):
        out = real(d)
        time.sleep(0.4)  # widen the read-union-replace window
        return out

    monkeypatch.setattr(hyb, "log_schema", slow)
    b1 = spark.createDataFrame(
        [("a", 1.0, 20, "x1")], schema=SCHEMA + ", c1 string"
    )
    b2 = spark.createDataFrame(
        [("b", 2.0, 20, "y1")], schema=SCHEMA + ", c2 string"
    )
    errs = []

    def run(h, df):
        try:
            h._merge_batch(df, 0)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(h1, b1)),
        threading.Thread(target=run, args=(h2, b2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    monkeypatch.undo()
    assert not errs, errs

    side = hyb.log_schema(serving)
    assert {"c1", "c2"} <= set(side.names), (
        f"concurrent writer dropped a sidecar column: {side.names}"
    )
    rows = {r["key"]: (r["val"], r["c1"], r["c2"]) for r in h1.read().collect()}
    assert rows["a"] == (1.0, "x1", None)
    assert rows["b"] == (2.0, None, "y1")


@pytest.mark.slow
def test_three_writers_with_compacts_stay_model_exact(spark, tmp_path):
    """Heavier companion to the two-handle sidecar test: three handles
    merge interleaved batches into one store from three threads, each
    firing an inline compact midway. Under the store writer lock the
    final content must equal the latest-ts-wins model exactly and the
    sidecar must retain every writer's private column."""
    import threading

    import pyspark.sql.functions as F

    from venice_spark.streaming.hybrid import log_schema, mark_seeded_version

    catalog = StoreCatalog(str(tmp_path / "cat"))
    catalog.create_store("h", key_fields=["key"], hybrid=True, rewind_seconds=0)
    serving = str(tmp_path / "serving")
    spark.createDataFrame([("seed", 0.0, 1)], schema=SCHEMA).write.parquet(serving)
    mark_seeded_version(serving, 1)

    import random

    n_writers, n_batches = 3, 3
    handles = [
        HybridReplay(spark, catalog, "h", serving, mode="append", compact_every=0)
        for _ in range(n_writers)
    ]
    model: dict = {}
    model_lock = threading.Lock()
    errs: list = []

    def writer(idx):
        rng = random.Random(1000 + idx)
        h = handles[idx]
        try:
            for b in range(n_batches):
                rows = []
                for j in range(rng.randint(1, 3)):
                    k = f"k{rng.randrange(0, 10)}"
                    # globally unique, writer-disjoint ts: the model never
                    # needs the value-JSON tie rule
                    ts = 10_000 * idx + 100 * b + j
                    v = float(rng.randrange(0, 1000))
                    rows.append((k, v, ts))
                    with model_lock:
                        cur = model.get(k)
                        if cur is None or ts > cur[0]:
                            model[k] = (ts, v)
                df = spark.createDataFrame(rows, schema=SCHEMA).withColumn(
                    f"w{idx}", F.lit(f"writer{idx}")
                )
                h._merge_batch(df, b)
                if b == 1:
                    h.compact()
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append((idx, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not errs, errs

    names = set(log_schema(serving).names)
    assert {f"w{i}" for i in range(n_writers)} <= names, names
    out = {
        r["key"]: (r["ts"], r["val"])
        for r in handles[0].read().select("key", "ts", "val").collect()
    }
    expect = dict(model)
    expect["seed"] = (1, 0.0)
    assert out == expect, {
        k: (out.get(k), expect.get(k))
        for k in set(out) | set(expect)
        if out.get(k) != expect.get(k)
    }


def test_stamp_memo_serves_writer_and_rescans_on_foreign_writes(spark, tmp_path):
    """r9 hot-path memo: log_stamp_pressure skips the store-sized column
    scan when the fileset signature matches what THIS process recorded
    after its own append (the 200M probe's one growing term). Any write
    the process did not make — another handle's append, a compact, file
    surgery — changes the signature, so the next call pays the real scan
    and can never serve stale stamps."""
    import os

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import (
        _STAMP_MEMO,
        log_stamp_pressure,
        record_stamp_after_append,
    )

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(9, 9.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=10)
    p.flush()
    st.hybrid_serve()  # append-mode trigger: memo recorded post-append
    serving = os.path.join(eng.catalog.store_dir("s"), "serving")
    key = os.path.realpath(serving)
    assert key in _STAMP_MEMO

    # memo agrees with a forced rescan
    memo_next, memo_n = _STAMP_MEMO[key][1], _STAMP_MEMO[key][2]
    _STAMP_MEMO.pop(key)
    scan_next, scan_n = log_stamp_pressure(spark, serving, "__batch")
    assert (memo_next, memo_n) == (scan_next, scan_n)

    # a memo poisoned with wrong numbers but a STALE signature is ignored
    record_stamp_after_append(serving, 999, 999)
    spark.createDataFrame([(5, "PUT", 50, 0, 5.0, scan_next)],
                          "k long, op string, ts long, colo int, v double, __batch long"
                          ).write.mode("append").parquet(serving)  # foreign write
    nxt, n = log_stamp_pressure(spark, serving, "__batch")
    assert nxt == scan_next + 1 and n == scan_n + 1, (nxt, n)

    # a poisoned memo with a MATCHING signature would be served — that is
    # the writer's contract: only record after your own append
    record_stamp_after_append(serving, nxt, n)
    assert log_stamp_pressure(spark, serving, "__batch") == (nxt, n)

    # the serve loop still resolves correctly end-to-end across the memo
    p.put(2, {"v": 2.0}, ts=20)
    p.flush()
    live = st.hybrid_serve()
    got = {r["k"]: r["v"] for r in live.read().collect()}
    assert got == {9: 9.0, 1: 1.0, 5: 5.0, 2: 2.0}, got


def test_empty_append_does_not_advance_stamp_memo(spark, tmp_path):
    """ADVICE r9 (low): an empty micro-batch used to advance the memo
    (next_stamp+1, distinct+1) even though it lands no rows — on this
    Spark build the committer publishes a ZERO-ROW part file, so the
    fileset changes but a real scan would find the counters unchanged.
    The divergence skipped stamp values and over-counted compaction
    pressure by one per empty trigger, eventually firing a no-op
    compact. record_stamp_after_append now keeps the pre-append counters
    (re-keyed to the new fileset) when every file the append added holds
    zero rows, and returns the EFFECTIVE pressure for the caller's
    compact decision."""
    import os

    from venice_spark.engine import VeniceSparkEngine
    from venice_spark.streaming.hybrid import (
        _STAMP_MEMO,
        log_stamp_pressure,
        record_stamp_after_append,
    )

    eng = VeniceSparkEngine(spark, str(tmp_path / "root"))
    eng.create_store("s", key_fields=["k"], hybrid=True)
    eng.push("s", spark.createDataFrame([(9, 9.0)], "k long, v double"))
    st = eng.store("s")
    p = st.producer()
    p.put(1, {"v": 1.0}, ts=10)
    p.flush()
    st.hybrid_serve()
    serving = os.path.join(eng.catalog.store_dir("s"), "serving")
    nxt, n = log_stamp_pressure(spark, serving, "__batch")

    # the empty-trigger shape: an append that publishes only zero-row files
    spark.read.parquet(serving).limit(0).write.mode("append").parquet(serving)
    got = record_stamp_after_append(serving, nxt + 1, n + 1)
    assert got == (nxt, n), "empty append must not advance the counters"

    # memo-served AND real-scan values agree post-empty-append
    assert log_stamp_pressure(spark, serving, "__batch") == (nxt, n)
    _STAMP_MEMO.pop(os.path.realpath(serving))
    assert log_stamp_pressure(spark, serving, "__batch") == (nxt, n)

    # a REAL append still advances normally
    spark.createDataFrame(
        [(5, "PUT", 50, 0, 5.0, nxt)],
        "k long, op string, ts long, colo int, v double, __batch long",
    ).write.mode("append").parquet(serving)
    got = record_stamp_after_append(serving, nxt + 1, n + 1)
    assert got == (nxt + 1, n + 1)
    _STAMP_MEMO.pop(os.path.realpath(serving))
    assert log_stamp_pressure(spark, serving, "__batch") == (nxt + 1, n + 1)
