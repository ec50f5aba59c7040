"""Streaming semantics tests (SURVEY §2.11 T1-T12): replayed micro-batch
runs with Trigger.AvailableNow, checked against the equivalent batch
computation — the reference's Initialize/Update seam replayed
deterministically."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from odin_rs_spark.operators.windows import latest_per_key
from odin_rs_spark.sources.tables import load_table
from odin_rs_spark.streaming import pipelines, sources, state


@pytest.fixture(scope="module")
def events_small(spark, sf_dir):
    return (
        load_table(spark, "events", sf_dir)
        .select(
            "event_id",
            "ts",
            F.col("user_id").cast("string").alias("key"),
            "event_type",
            "value",
        )
        .filter(F.col("user_id") % 10 == 0)  # keep the fixture quick
    )


@pytest.fixture(scope="module")
def replay_root(spark, events_small, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("replay"))
    sources.split_for_replay(events_small, root, n_chunks=3, order_col="ts")
    return root


def _replay(spark, events_small, replay_root):
    return sources.replay_stream(spark, replay_root, events_small.schema)


def test_replay_preserves_rows(spark, events_small, replay_root, tmp_path):
    got = []
    stream = _replay(spark, events_small, replay_root)
    pipelines.run_available_now(
        stream,
        lambda df, bid: got.append((bid, df.count())),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    assert len(got) == 3  # one micro-batch per chunk
    assert sum(n for _, n in got) == events_small.count()


def _replay_batch_sizes(spark, df, root, ckpt) -> list[int]:
    sizes: dict[int, int] = {}
    pipelines.run_available_now(
        sources.replay_stream(spark, root, df.schema),
        lambda d, bid: sizes.__setitem__(bid, d.count()),
        ckpt,
        output_mode="append",
    )
    return [sizes[b] for b in sorted(sizes)]


def _chunk_files(root: str) -> list[list[str]]:
    """Data files per chunk dir, in chunk order (hidden/marker files skipped)."""
    return [
        sorted(
            os.path.join(root, d, f)
            for f in os.listdir(os.path.join(root, d))
            if not f.startswith((".", "_"))
        )
        for d in sorted(os.listdir(root))
        if d.startswith("chunk_")
    ]


def test_split_for_replay_keeps_empty_chunks(spark, tmp_path):
    """Fewer rows than chunks: every chunk still lands as one file, so
    the replay runs one micro-batch per chunk, the empty ones included."""
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(ts=t0, v=1), Row(ts=t0 + dt.timedelta(seconds=1), v=2)]
    )
    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=4, order_col="ts")
    files = _chunk_files(root)
    assert len(files) == 4 and all(len(f) == 1 for f in files)
    sizes = _replay_batch_sizes(spark, df, root, str(tmp_path / "ckpt"))
    assert sizes == [1, 1, 0, 0]


def test_split_for_replay_empty_table(spark, tmp_path):
    df = spark.createDataFrame([], "ts timestamp, v long")
    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=3, order_col="ts")
    assert [len(f) for f in _chunk_files(root)] == [1, 1, 1]
    sizes = _replay_batch_sizes(spark, df, root, str(tmp_path / "ckpt"))
    assert sizes == [0, 0, 0]


def test_split_for_replay_chunks_are_ntile_in_order(spark, tmp_path):
    """Chunk i holds exactly the rows of ntile(n) OVER (ORDER BY col) = i,
    in col order, and chunk files carry strictly increasing past mtimes
    (the file source replays by mtime)."""
    import time

    n_rows, n_chunks = 50, 4
    df = spark.range(n_rows).select(
        ((F.col("id") * 37) % n_rows).alias("x"), F.col("id").alias("v")
    )
    root = str(tmp_path / "chunks")
    paths = sources.split_for_replay(df, root, n_chunks=n_chunks, order_col="x")
    assert paths == [os.path.join(root, f"chunk_{i:04d}") for i in range(1, n_chunks + 1)]

    # ntile: the first n_rows % n_chunks buckets hold one extra row
    base, extra = divmod(n_rows, n_chunks)
    rows = sorted(((i * 37) % n_rows, i) for i in range(n_rows))
    expected, start = [], 0
    for b in range(n_chunks):
        size = base + (1 if b < extra else 0)
        expected.append(rows[start : start + size])
        start += size

    files = _chunk_files(root)
    assert all(len(f) == 1 for f in files)
    got = [
        [(r.x, r.v) for r in spark.read.parquet(f[0]).collect()] for f in files
    ]
    assert got == expected

    mtimes = [os.path.getmtime(f[0]) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == n_chunks
    assert mtimes[-1] < time.time()


def test_windowed_class_counts_matches_batch(spark, events_small, replay_root, tmp_path):
    stream = _replay(spark, events_small, replay_root)
    agg = pipelines.windowed_class_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wcc")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.win_start, r["class"]): (r.n, r.sum_value)
        for r in spark.table("wcc").collect()
    }
    batch = {
        (r.win_start, r["class"]): (r.n, r.sum_value)
        for r in pipelines.windowed_class_counts(events_small).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_ttl_latest_state_matches_batch_latest(spark, events_small, replay_root, tmp_path):
    stream = _replay(spark, events_small, replay_root)
    out = state.ttl_latest_state(
        stream.select("key", "ts", "value").groupBy("key"), ttl_ms=None
    )
    emitted: list = []
    pipelines.run_available_now(
        out,
        lambda df, bid: emitted.extend(df.collect()),
        str(tmp_path / "ckpt"),
    )
    # last 'live' emission per key == batch latest value per key
    final = {}
    for r in emitted:
        assert r.removed == "live"  # no TTL expiry within an availableNow drain
        final[r.key] = r
    batch = {
        r.key: r
        for r in latest_per_key(
            events_small, ["key"], "ts", tiebreak=["event_id"]
        ).collect()
    }
    assert set(final) == set(batch)
    for k, r in final.items():
        assert r.ts == batch[k].ts
    # n_updates sums every record seen for the key
    counts = {r.key: r.n_updates for r in emitted if r.key in final}
    batch_counts = {
        r.key: r.n
        for r in events_small.groupBy("key").agg(F.count("*").alias("n")).collect()
    }
    assert counts == batch_counts


def test_ttl_tombstones_emitted(spark, tmp_path):
    """TTL expiry path: short TTL under a processing-time trigger emits
    'removed' tombstones for keys with no further updates (T3)."""
    import time

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(key=str(k), ts=t0 + dt.timedelta(seconds=k), value=float(k)) for k in range(3)]
    )
    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=1, order_col="ts")
    stream = sources.replay_stream(spark, root, df.schema)
    out = state.ttl_latest_state(stream.groupBy("key"), ttl_ms=2000)
    emitted: list = []
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .foreachBatch(lambda d, b: emitted.extend(d.collect()))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            removed = {r.key for r in emitted if r.removed == "removed"}
            if removed == {"0", "1", "2"}:
                break
            time.sleep(1)
    finally:
        q.stop()
    removed = {r.key for r in emitted if r.removed == "removed"}
    live = {r.key for r in emitted if r.removed == "live"}
    assert live == {"0", "1", "2"}
    assert removed == {"0", "1", "2"}


def test_track_trace_state_collapse_and_cap(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # key A: 2nd point arrives 500 ms after the 1st → collapsed
        Row(key="A", ts=t0, lon=0.0, lat=0.0),
        Row(key="A", ts=t0 + dt.timedelta(milliseconds=500), lon=0.1, lat=0.0),
        Row(key="A", ts=t0 + dt.timedelta(seconds=5), lon=1.0, lat=0.0),
        # key B: 20 spaced points → capped at max_positions
    ] + [
        Row(key="B", ts=t0 + dt.timedelta(seconds=2 * i), lon=float(i), lat=0.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=2, order_col="ts")
    stream = sources.replay_stream(spark, root, df.schema)
    out = state.track_trace_state(
        stream.groupBy("key"), max_positions=16, min_gap_ms=800
    )
    emitted: list = []
    pipelines.run_available_now(
        out, lambda d, b: emitted.extend(d.collect()), str(tmp_path / "ckpt")
    )
    last = {}
    for r in emitted:
        last[r.key] = r
    # A: 3 raw points, first two collapsed → 2 retained
    assert last["A"].n_points == 2
    assert last["A"].last_lon == 1.0
    # bearing of the final leg (0,0)→(1,0) is due east = 90°
    assert abs(last["A"].bearing_deg - 90.0) < 0.5
    # B: 20 points capped to 16, newest kept
    assert last["B"].n_points == 16
    assert last["B"].last_lon == 19.0


def test_alarm_dedup_suppresses_within_window(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(device="d1", ts=t0, sev=1.0),
        Row(device="d1", ts=t0 + dt.timedelta(minutes=3), sev=2.0),  # suppressed
        Row(device="d2", ts=t0 + dt.timedelta(minutes=1), sev=3.0),
        Row(device="d1", ts=t0 + dt.timedelta(minutes=4), sev=4.0),  # suppressed
    ]
    df = spark.createDataFrame(rows)
    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=1, order_col="ts")
    stream = sources.replay_stream(spark, root, df.schema)
    deduped = state.alarm_dedup(stream, ["device"], "ts", suppress="10 minutes")
    got: list = []
    pipelines.run_available_now(
        deduped,
        lambda d, b: got.extend(d.collect()),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    per_device = {}
    for r in got:
        per_device.setdefault(r.device, []).append(r)
    assert len(per_device["d1"]) == 1 and len(per_device["d2"]) == 1


def test_upsert_sorted_capped_semantics(spark):
    b1 = spark.createDataFrame(
        [
            Row(id=1, key="s1", ts=dt.datetime(2024, 1, 1, 0, 0), v="a"),
            Row(id=2, key="s1", ts=dt.datetime(2024, 1, 1, 0, 10), v="b"),
            Row(id=3, key="s2", ts=dt.datetime(2024, 1, 1, 0, 5), v="c"),
        ]
    )
    b2 = spark.createDataFrame(
        [
            # same id 2 → replaces (newest batch wins)
            Row(id=2, key="s1", ts=dt.datetime(2024, 1, 1, 0, 10), v="b2"),
            # late record, older ts, still inserted in order (T6)
            Row(id=4, key="s1", ts=dt.datetime(2024, 1, 1, 0, 5), v="late"),
            Row(id=5, key="s1", ts=dt.datetime(2024, 1, 1, 0, 20), v="d"),
        ]
    )
    store = state.upsert_sorted_capped(None, b1, "id", ["key"], "ts", max_len=3)
    store = state.upsert_sorted_capped(store, b2, "id", ["key"], "ts", max_len=3)
    rows = {r.id: r for r in store.collect()}
    s1 = sorted(
        [r for r in rows.values() if r.key == "s1"], key=lambda r: r.ts, reverse=True
    )
    # cap 3 newest for s1: ids 5, 2, 4 (id 1 at 0:00 evicted); id2 replaced
    assert [r.id for r in s1] == [5, 2, 4]
    assert rows[2].v == "b2"
    assert rows[3].key == "s2"


def test_backfill_then_live_idempotent(spark, events_small, replay_root, tmp_path):
    store = str(tmp_path / "store")
    # backfill with the oldest half, then stream ALL chunks (overlap!)
    cut = events_small.approxQuantile("event_id", [0.5], 0.01)[0]
    backfill = events_small.filter(F.col("event_id") <= cut)
    stream = _replay(spark, events_small, replay_root)
    pipelines.backfill_then_live(
        spark, backfill, stream, store, str(tmp_path / "ckpt"), "event_id"
    )
    got = spark.read.parquet(store)
    assert got.count() == events_small.count()
    assert got.select("event_id").distinct().count() == events_small.count()


def test_inactive_flags(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    df = spark.createDataFrame(
        [
            Row(device="d1", ts=t0),
            Row(device="d1", ts=t0 + dt.timedelta(hours=3)),  # frontier
            Row(device="d2", ts=t0 + dt.timedelta(hours=1)),
            Row(device="d3", ts=t0 + dt.timedelta(hours=2, minutes=45)),
        ]
    )
    out = {
        r.device: r.inactive
        for r in state.inactive_flags(df, ["device"], "ts", 3600.0).collect()
    }
    assert out == {"d1": False, "d2": True, "d3": False}


def test_snapshot_delta_sink(spark, events_small, replay_root, tmp_path):
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    stream = _replay(spark, events_small, replay_root)
    latest_merge = lambda old, batch: state.upsert_sorted_capped(  # noqa: E731
        old, batch, "event_id", ["key"], "ts", max_len=1
    )
    pipelines.run_available_now(
        stream,
        pipelines.snapshot_delta_sink(snap, delta, merge_fn=latest_merge),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    # delta dir holds every record exactly once, tagged by micro-batch
    d = spark.read.parquet(delta)
    assert d.count() == events_small.count()
    assert d.select("__batch_id").distinct().count() == 3
    # snapshot holds latest-per-key (K2 on-connect view)
    s = spark.read.parquet(snap)
    batch_latest = latest_per_key(events_small, ["key"], "ts", tiebreak=["event_id"])
    assert s.count() == batch_latest.count()
    exp = {r.key: r.event_id for r in batch_latest.collect()}
    got = {r.key: r.event_id for r in s.collect()}
    # ts ties can pick a different event; compare on (key, ts)
    exp_ts = {r.key: r.ts for r in batch_latest.collect()}
    got_ts = {r.key: r.ts for r in s.collect()}
    assert got_ts == exp_ts


def test_session_window_matches_batch_sessionize(
    spark, events_small, replay_root, tmp_path
):
    """Streaming session_window must produce the same session boundaries
    as the batch sessionize operator once all data is in (complete
    replay, watermark passed)."""
    from odin_rs_spark.operators.windows import session_stats

    stream = _replay(spark, events_small, replay_root)
    rows = []
    sessions = pipelines.session_window_counts(
        stream, key="key", ts_col="ts", gap="30 minutes", watermark="0 seconds"
    )
    pipelines.run_available_now(
        sessions,
        lambda df, bid: rows.extend(df.collect()),
        str(tmp_path / "ckpt_sess"),
        output_mode="complete",
    )
    # complete mode re-emits everything per batch: keep the final state
    # per (key, session_start)
    final: dict = {}
    for r in rows:
        final[(r.key, r.session_start)] = r
    got = {(k[0], k[1], r.session_end, r.n_events) for k, r in final.items()}

    batch = session_stats(
        events_small, key="key", ts="ts", gap_minutes=30, tiebreak=["event_id"]
    ).collect()
    # session_window's end = last event + gap; sessionize's session_end =
    # last event ts. Compare on (key, start, last-event, count).
    import datetime as _dt

    want = {
        (
            r.key,
            r.session_start,
            r.session_end + _dt.timedelta(minutes=30),
            r.n_events,
        )
        for r in batch
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(
    spark, events_small, replay_root, tmp_path
):
    """Watermarked stream-stream interval join must produce the same
    matches as the equivalent batch join once both streams drain."""
    from odin_rs_spark.streaming import joins as stream_joins

    left = _replay(spark, events_small, replay_root).select(
        "key", "ts", F.col("event_id").alias("l_id")
    )
    right = _replay(spark, events_small, replay_root).select(
        "key", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    joined = stream_joins.interval_join_streams(
        left, right, on="key", window="10 minutes", watermark="0 seconds"
    )
    rows = []
    pipelines.run_available_now(
        joined,
        lambda df, bid: rows.extend(df.collect()),
        str(tmp_path / "ckpt_ssj"),
        output_mode="append",
    )
    got = {(r.key, r.l_id, r.r_id) for r in rows}

    lb = events_small.select("key", "ts", F.col("event_id").alias("l_id"))
    rb = events_small.select(
        "key", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    want = {
        (r.key, r.l_id, r.r_id)
        for r in lb.join(rb, "key")
        .where(
            (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 minutes"))
            & (F.col("r_ts") <= F.col("ts"))
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_incremental_near_dup_streaming(spark, tmp_path):
    """Ingestion-time dedup: each replayed micro-batch of new docs is
    near-dup-joined against the static historical corpus via
    foreachBatch; the union over micro-batches must equal the one-shot
    batch join (per-batch independence is what makes the incremental
    pattern correct — new docs only pair with HISTORY, never each
    other, so batch boundaries can't change the result)."""
    import random

    from odin_rs_spark.operators.dedup import near_dup_join

    random.seed(11)
    vocab = [f"w{i}" for i in range(200)]

    def doc(k=30):
        return " ".join(random.choices(vocab, k=k))

    base_rows = [Row(doc_id=i, text=doc()) for i in range(20)]
    new_rows = [Row(doc_id=100 + i, text=doc()) for i in range(6)]
    # planted: new 200 copies base 3; new 201 = base 7 with one edit
    new_rows.append(Row(doc_id=200, text=base_rows[3].text))
    edited = base_rows[7].text.split()
    edited[-1] = "zzz"
    new_rows.append(Row(doc_id=201, text=" ".join(edited)))
    base = spark.createDataFrame(base_rows)
    new = spark.createDataFrame(new_rows)

    expect = {
        (r.new_id, r.base_id)
        for r in near_dup_join(new, base, threshold=0.7).collect()
    }
    assert {(200, 3), (201, 7)} <= expect

    root = str(tmp_path / "chunks")
    sources.split_for_replay(new, root, n_chunks=2, order_col="doc_id")
    stream = sources.replay_stream(spark, root, new.schema)
    got: list = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(
            lambda d, b: got.extend(near_dup_join(d, base, threshold=0.7).collect())
        )
        .start()
    )
    q.awaitTermination(120)
    assert {(r.new_id, r.base_id) for r in got} == expect


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Native Structured Streaming dedup: dropDuplicates on a content
    digest in a replayed doc stream keeps exactly one doc per distinct
    normalized text across ALL micro-batches (cumulative state), i.e.
    the same KEY SET as batch exact_dedup — the ingestion-time exact
    dedup q23 runs in batch. (Which duplicate survives differs: batch
    keeps min doc_id, streaming keeps first-arrival; replay order is by
    doc_id here so both keep the min.)"""
    from odin_rs_spark.functions.text import norm_text
    from odin_rs_spark.operators.dedup import exact_dedup

    rows = [
        Row(doc_id=i, text=f"unique doc number {i} body") for i in range(10)
    ]
    # duplicates across future micro-batches (doc_id order = replay order)
    rows += [Row(doc_id=100 + i, text=f"unique doc number {i} body") for i in range(5)]
    rows += [Row(doc_id=200, text="unique   DOC number 3 body ")]  # normalizes equal
    df = spark.createDataFrame(rows)

    want = {r.doc_id for r in exact_dedup(df).collect()}
    assert want == set(range(10))  # every dup collapses to the min id

    root = str(tmp_path / "chunks")
    sources.split_for_replay(df, root, n_chunks=3, order_col="doc_id")
    stream = (
        sources.replay_stream(spark, root, df.schema)
        .withColumn("__digest", F.xxhash64(norm_text(F.col("text"))))
        .dropDuplicates(["__digest"])
    )
    got: list = []
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(lambda d, b: got.extend(d.collect()))
        .start()
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in got} == want


def test_snapshot_crash_recovery(spark, tmp_path):
    """ADVICE r4 (medium): a crash between the two renames of the
    snapshot swap parks the current state at '.old' (or a complete
    '.staging'); recover_snapshot must restore it instead of letting
    the next batch read old=None and rmtree the only surviving copy."""
    snap = str(tmp_path / "snap")
    one = spark.createDataFrame([Row(k=1, v="a")])
    two = spark.createDataFrame([Row(k=1, v="b")])

    # crash window 1: snapshot renamed away, staging complete
    one.write.parquet(snap + ".old")
    two.write.parquet(snap + ".staging")
    got = pipelines.read_snapshot(spark, snap)
    assert got is not None and got.collect()[0].v == "b"  # staging is newer
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".staging")

    # crash window 2: staging incomplete (no _SUCCESS) -> .old wins
    import shutil as _sh

    _sh.rmtree(snap)
    one.write.parquet(snap + ".old")
    os.makedirs(snap + ".staging")
    (tmp_path / "snap.staging" / "part-0.parquet").write_bytes(b"torn")
    got = pipelines.read_snapshot(spark, snap)
    assert got is not None and got.collect()[0].v == "a"

    # no snapshot at all -> None, not an exception
    _sh.rmtree(snap)
    _sh.rmtree(snap + ".staging")
    assert pipelines.read_snapshot(spark, str(tmp_path / "never")) is None


def test_read_sink_or_empty_zero_batches(spark, tmp_path):
    """ADVICE r5 (low): a replayed source that yields ZERO batches never
    creates the foreachBatch sink directory — the post-drain read must
    return an empty frame with the declared schema, not throw
    AnalysisException; an existing sink reads through unchanged."""
    missing = str(tmp_path / "never_created")
    out = pipelines.read_sink_or_empty(
        spark, missing, "key string, n bigint"
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["key", "n"]

    existing = str(tmp_path / "sink")
    spark.createDataFrame([Row(key="a", n=3)]).write.parquet(existing)
    got = pipelines.read_sink_or_empty(spark, existing, "key string, n bigint")
    assert got.collect()[0].n == 3

    # crash-recovery composes: state parked at '.old' is restored first
    parked = str(tmp_path / "parked")
    spark.createDataFrame([Row(key="b", n=7)]).write.parquet(parked + ".old")
    got = pipelines.read_sink_or_empty(spark, parked, "key string, n bigint")
    assert got.collect()[0].key == "b"


def test_read_sink_or_empty_all_batches_empty(spark, tmp_path):
    """partitioned_append_sink lands no partition for an empty batch,
    so a sink whose every batch was empty is a directory with no data
    file: the read returns the empty frame of the declared schema
    instead of failing parquet schema inference. Once a batch carries
    rows, the read goes through to them."""
    d = str(tmp_path / "sink")
    sink = pipelines.partitioned_append_sink(d)
    sink(spark.createDataFrame([], "k long"), 0)
    assert os.path.isdir(d)
    out = pipelines.read_sink_or_empty(spark, d, "k long")
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<k:bigint>"

    sink(spark.createDataFrame([Row(k=5)]), 1)
    got = pipelines.read_sink_or_empty(spark, d, "k long")
    assert [(r["k"], r["__batch_id"]) for r in got.collect()] == [(5, 1)]


def test_atomic_snapshot_swap_single_write(spark, tmp_path):
    """The swap writes the new state ONCE (to staging) and leaves no
    residue; repeated swaps keep exactly the latest state."""
    snap = str(tmp_path / "s")
    for i in range(3):
        pipelines.atomic_snapshot_swap(
            spark.createDataFrame([Row(k=1, gen=i)]), snap
        )
    assert spark.read.parquet(snap).collect()[0].gen == 2
    assert not os.path.exists(snap + ".staging")
    assert not os.path.exists(snap + ".old")


def test_partitioned_append_sink_retry_idempotent(spark, tmp_path):
    """A foreachBatch retry re-lands the SAME __batch_id partition via
    dynamic overwrite instead of double-appending."""
    out = str(tmp_path / "o")
    sink = pipelines.partitioned_append_sink(out)
    b0 = spark.createDataFrame([Row(k=i) for i in range(4)])
    sink(b0, 0)
    sink(b0, 0)  # retry of batch 0
    sink(spark.createDataFrame([Row(k=9)]), 1)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2, 3, 9]


def test_position_store_state_matches_batch_latest_fix(spark, tmp_path):
    """r11 gpshub twin: the keyed device store serves each device's
    newest fix + cumulative update count across micro-batches."""
    rows = [
        # (device, ts, lat, lon) — out-of-order within and across chunks
        ("d1", "2024-01-01 10:00:00", 35.0, -100.0),
        ("d1", "2024-01-01 10:02:00", 35.5, -100.5),
        ("d2", "2024-01-01 10:01:00", 36.0, -101.0),
        ("d1", "2024-01-01 10:01:00", 35.2, -100.2),
        ("d2", "2024-01-01 10:03:00", 36.3, -101.3),
        ("d3", "2024-01-01 10:00:30", 37.0, -102.0),
    ]
    df = spark.createDataFrame(
        [(k, dt.datetime.fromisoformat(t), la, lo) for k, t, la, lo in rows],
        "key string, ts timestamp, lat double, lon double",
    )
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=3, order_col="ts")
    stream = sources.replay_stream(spark, root, df.schema)
    out = state.position_store_state(stream.groupBy("key"))
    emitted: list = []
    pipelines.run_available_now(
        out,
        lambda d, bid: emitted.extend(d.collect()),
        str(tmp_path / "ckpt"),
    )
    final = {}
    for r in emitted:
        final[r.key] = r
    assert final["d1"].lat == 35.5 and final["d1"].lon == -100.5
    assert final["d1"].n_updates == 3
    assert final["d2"].lat == 36.3 and final["d2"].n_updates == 2
    assert final["d3"].n_updates == 1
    assert final["d1"].ts == dt.datetime.fromisoformat("2024-01-01 10:02:00")
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in state._POS_OUT
    ]


def test_position_store_state_ts_ties_break_on_lat_lon(spark, tmp_path):
    """Two fixes of one key at the same ts: the larger (lat, lon) wins,
    within one micro-batch and across batches alike — never the row that
    happened to arrive last."""
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # batch 1
        (0, "d1", t, 35.0, -100.0),
        (1, "d1", t, 35.5, -101.0),  # same batch: larger lat wins
        (2, "d2", t, 36.5, -100.0),
        # batch 2
        (3, "d2", t, 36.0, -99.0),  # later batch, smaller lat: loses
        (4, "d3", t, 37.0, -102.0),
        (5, "d3", t, 37.0, -101.5),  # lat tie: larger lon wins
    ]
    df = spark.createDataFrame(
        rows, "seq int, key string, ts timestamp, lat double, lon double"
    )
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=2, order_col="seq")
    stream = sources.replay_stream(spark, root, df.schema)
    out = state.position_store_state(
        stream.select("key", "ts", "lat", "lon").groupBy("key")
    )
    emitted: list = []
    pipelines.run_available_now(
        out,
        lambda d, bid: emitted.append(d.collect()),
        str(tmp_path / "ckpt"),
    )
    assert len(emitted) == 2
    final = {r.key: (r.lat, r.lon, r.n_updates) for b in emitted for r in b}
    assert final == {
        "d1": (35.5, -101.0, 2),
        "d2": (36.5, -100.0, 2),
        "d3": (37.0, -101.5, 2),
    }


def test_snapshot_delta_sink_over_native_streaming_aggregate(spark, tmp_path):
    """A micro-batch of a built-in streaming aggregate through the sink
    over several batches: the batch must be materialized in a way that
    survives the aggregate's plan (persist() of this shape fails with
    NoSuchElementException), and the snapshot ends at latest-per-key."""
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (f"d{i % 5}", t0 + dt.timedelta(seconds=i), float(i)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=3, order_col="ts")
    # the position store's shape: a struct max read back field by field
    agg = (
        sources.replay_stream(spark, root, df.schema)
        .groupBy("key")
        .agg(F.max(F.struct("ts", "value")).alias("fix"), F.count(F.lit(1)).alias("n"))
        .select("key", "fix.ts", "fix.value", "n")
    )
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    pipelines.run_available_now(
        agg,
        pipelines.snapshot_delta_sink(
            snap, delta, pipelines.latest_per_key_merge(["key"])
        ),
        str(tmp_path / "ckpt"),
    )
    d = spark.read.parquet(delta)
    assert d.select("__batch_id").distinct().count() == 3
    assert d.count() == 15  # every key updated in each of the 3 batches
    got = {r.key: (r.ts, r.value, r.n) for r in spark.read.parquet(snap).collect()}
    assert got == {
        f"d{k}": (t0 + dt.timedelta(seconds=25 + k), 25.0 + k, 6) for k in range(5)
    }


def test_snapshot_delta_sink_resumes_with_merge_schema(spark, tmp_path):
    """The sink reads the old snapshot with the schema of the snapshot it
    last wrote — the merge's output, not the batch's (here the merge adds
    a column). A fresh sink closure over an existing snapshot directory,
    as after a restart, has no such schema and falls back to inference."""
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")

    def count_batches(old, batch_df):
        fresh = batch_df.withColumn("n_batches", F.lit(1).cast("long"))
        if old is None:
            return fresh
        both = old.unionByName(fresh)
        return both.groupBy("key").agg(
            F.max("v").alias("v"),  # v grows batch by batch below
            F.sum("n_batches").alias("n_batches"),
        )

    def batch(*kv):
        return spark.createDataFrame(list(kv), "key string, v long")

    sink = pipelines.snapshot_delta_sink(snap, delta, count_batches)
    sink(batch(("a", 1), ("b", 1)), 0)
    sink(batch(("a", 2)), 1)
    restarted = pipelines.snapshot_delta_sink(snap, delta, count_batches)
    restarted(batch(("a", 3), ("c", 3)), 2)
    restarted(batch(("b", 4)), 3)
    got = {r.key: (r.v, r.n_batches) for r in spark.read.parquet(snap).collect()}
    assert got == {"a": (3, 3), "b": (4, 2), "c": (3, 1)}
    assert spark.read.parquet(delta).count() == 6


def test_snapshot_delta_sink_rerun_of_uncommitted_batch_lands_once(spark, tmp_path):
    """A crash after the sink of the last batch but before its commit:
    the restarted query runs that batch again, and the delta still holds
    every position-store row once (the rerun replaces the batch's
    partition) with the snapshot unchanged."""
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (f"d{i % 5}", t0 + dt.timedelta(seconds=i), float(i), -float(i))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, lat double, lon double")
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=3, order_col="ts")
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    ckpt = tmp_path / "ckpt"

    def drain():
        pipelines.run_available_now(
            state.position_store_state(
                sources.replay_stream(spark, root, df.schema).groupBy("key")
            ),
            pipelines.snapshot_delta_sink(
                snap, delta, pipelines.latest_per_key_merge(["key"])
            ),
            str(ckpt),
        )

    drain()
    before = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    (ckpt / "commits" / "2").unlink()
    for crc in (ckpt / "commits").glob(".2*.crc"):
        crc.unlink()
    drain()
    d = spark.read.parquet(delta)
    assert d.count() == 15  # 5 keys updated in each of 3 batches
    assert sorted(tuple(r) for r in d.groupBy("__batch_id").count().collect()) == [
        (0, 5), (1, 5), (2, 5),
    ]
    assert sorted(tuple(r) for r in spark.read.parquet(snap).collect()) == before


def test_snapshot_delta_sink_retry_lands_batch_once(spark, tmp_path):
    """A foreachBatch retry calls the sink twice with one batch id: the
    delta holds that batch once and the snapshot is the same."""
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    sink = pipelines.snapshot_delta_sink(
        snap, delta, pipelines.latest_per_key_merge(["key"])
    )
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "key string, v long")
    sink(b0, 0)
    sink(b0, 0)
    sink(spark.createDataFrame([("a", 3)], "key string, v long"), 1)
    got = sorted(tuple(r) for r in spark.read.parquet(delta).collect())
    assert got == [("a", 1, 0), ("a", 3, 1), ("b", 2, 0)]
    snapshot = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    assert snapshot == [("a", 3), ("b", 2)]


def test_snapshot_delta_sink_empty_batches(spark, tmp_path):
    """An empty first batch still creates the (empty) snapshot; a later
    empty batch leaves it unchanged and adds no delta rows."""
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    sink = pipelines.snapshot_delta_sink(
        snap, delta, pipelines.latest_per_key_merge(["key"])
    )
    empty = spark.createDataFrame([], "key string, v long")
    sink(empty, 0)
    first = spark.read.parquet(snap)
    assert first.count() == 0
    assert [f.name for f in first.schema] == ["key", "v"]
    sink(empty, 1)
    assert spark.read.parquet(snap).count() == 0
    deltas = spark.read.schema("key string, v long, __batch_id int").parquet(delta)
    assert deltas.count() == 0


def test_latest_per_key_merge_duplicate_batch_keys(spark):
    """Duplicate keys inside one batch: every batch row is kept and each
    old row whose key the batch touches is dropped exactly once — the
    left-anti join needs no distinct on its key side."""
    old = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0)], "key string, v long"
    )
    batch_df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 3)], "key string, v long"
    )
    got = pipelines.latest_per_key_merge(["key"])(old, batch_df).collect()
    assert sorted((r.key, r.v) for r in got) == [
        ("a", 1), ("a", 2), ("b", 3), ("b", 3), ("c", 0),
    ]


def _listing_jobs(spark) -> set[int]:
    """Ids of the jobs Spark's file index launched to list paths in
    parallel (their description starts with "Listing leaf files")."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = set()
    for i in range(jobs.size()):
        desc = jobs.apply(i).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            out.add(jobs.apply(i).jobId())
    return out


@pytest.mark.parametrize("n_paths", [40])
def test_local_session_lists_many_paths_on_the_driver(spark, tmp_path, n_paths):
    """More paths than Spark's parallel-discovery default (32), read by a
    local session, launch no distributed listing job: neither a file-stream
    batch over that many new files (its getBatch re-resolves them as
    explicit paths) nor a batch read over that many paths."""
    # (a) one availableNow batch over n_paths JSON bronze files
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    recs = [
        {"key": f"k{i % 7}", "ts_us": 1_700_000_000_000_000 + i, "lat": i / 2, "lon": -i / 4}
        for i in range(3 * n_paths)
    ]
    for f in range(n_paths):
        with open(bronze / f"part_{f:04d}.json", "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in recs[3 * f : 3 * f + 3])
    stream = sources.file_stream(
        spark, str(bronze), "key string, ts_us bigint, lat double, lon double", fmt="json"
    ).select("key", F.timestamp_micros("ts_us").alias("ts"), "lat", "lon")
    snap, delta = str(tmp_path / "snap"), str(tmp_path / "delta")
    before = _listing_jobs(spark)
    pipelines.run_available_now(
        state.position_store_state(stream.groupBy("key")),
        pipelines.snapshot_delta_sink(
            snap, delta, pipelines.latest_per_key_merge(["key"])
        ),
        str(tmp_path / "ckpt"),
    )
    assert _listing_jobs(spark) - before == set()
    assert spark.read.parquet(delta).select("__batch_id").distinct().count() == 1
    pdf = pd.DataFrame(recs)
    latest = pdf.sort_values("ts_us").groupby("key").tail(1).set_index("key")
    counts = pdf.groupby("key").size()
    want = {k: (r.ts_us, r.lat, r.lon, counts[k]) for k, r in latest.iterrows()}
    snapshot = spark.read.parquet(snap).select(
        "key", F.unix_micros("ts").alias("ts_us"), "lat", "lon", "n_updates"
    )
    got = {r.key: (r.ts_us, r.lat, r.lon, r.n_updates) for r in snapshot.collect()}
    assert got == want

    # (b) a batch read over n_paths parquet files
    paths = []
    for f in range(n_paths):
        p = str(tmp_path / f"t_{f:04d}.parquet")
        pd.DataFrame({"f": [f, f], "v": [2 * f, 2 * f + 1]}).to_parquet(p)
        paths.append(p)
    before = _listing_jobs(spark)
    rows = spark.read.parquet(*paths).collect()
    assert _listing_jobs(spark) - before == set()
    assert sorted((r.f, r.v) for r in rows) == [
        (f, v) for f in range(n_paths) for v in (2 * f, 2 * f + 1)
    ]
