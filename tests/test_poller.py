"""S9 REST-poll bridge end-to-end: poller → bronze micro-batch files →
checkpointed file stream → classify → snapshot/delta sink — the full
live-connector seam (records-since-id protocol, reference parity
odin_sentinel/src/lib.rs:1139-1209)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from odin_rs_spark.streaming.pipelines import (
    classify_events,
    latest_per_key_merge,
    run_available_now,
    snapshot_delta_sink,
)
from odin_rs_spark.streaming.poller import RestPoller
from odin_rs_spark.streaming.sources import file_stream

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("value", DoubleType()),
    ]
)


class FakeFeed:
    """In-memory REST server honoring ?since=<id> semantics, including
    the over-returning case (always returns the full tail plus some
    already-seen rows, which the poller must drop)."""

    def __init__(self):
        self.rows = []

    def extend(self, n):
        start = len(self.rows)
        self.rows += [
            {"id": i + 1, "value": float((i * 37) % 300)} for i in range(start, start + n)
        ]

    def fetch_since(self, last_id):
        cut = 0 if last_id is None else max(0, last_id - 2)  # over-return by 2
        return self.rows[cut:]


def _drain(spark, bronze, out, ckpt):
    stream = classify_events(file_stream(spark, bronze + "/batch_*.json", SCHEMA, fmt="json"))
    sink = snapshot_delta_sink(out + "/snapshot", out + "/delta", latest_per_key_merge(["id"]))
    run_available_now(stream, sink, ckpt, output_mode="append")


def test_poller_to_snapshot_end_to_end(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    feed = FakeFeed()
    poller = RestPoller(feed.fetch_since, bronze, id_field="id")

    feed.extend(25)
    assert poller.poll_once() == 25
    feed.extend(10)
    assert poller.poll_once() == 10  # over-returned dupes dropped
    assert poller.poll_once() == 0  # nothing new → no file
    files = [f for f in os.listdir(bronze) if f.startswith("batch_")]
    assert len(files) == 2 and not any(f.startswith(".") for f in os.listdir(bronze) if "batch" in f)

    _drain(spark, bronze, out, ckpt)
    snap = spark.read.parquet(out + "/snapshot")
    # keyed upsert by id; with availableNow all bronze files arrive as
    # one batch
    got = {r.id for r in snap.collect()}
    assert got == set(range(1, 36))
    assert "class" in snap.columns

    # live continuation: new poll lands records, the SAME checkpoint
    # drains only the new file (exactly-once across restarts)
    feed.extend(5)
    assert poller.poll_once() == 5
    _drain(spark, bronze, out, ckpt)
    delta = spark.read.parquet(out + "/delta")
    assert delta.count() == 40  # 35 in batch 0 + 5 in batch 1, no dupes
    assert delta.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    # the upsert keeps the first drain's ids and adds the new ones
    snap2 = {r.id for r in spark.read.parquet(out + "/snapshot").collect()}
    assert snap2 == set(range(1, 41))


def test_poller_crash_between_rename_and_state_write(tmp_path):
    """Round-3 ADVICE fix: the bronze file commits BEFORE the cursor
    write, so a crash in that window used to re-fetch and re-land the
    same records on restart. Recovery now parses the max id embedded in
    landed filenames, making bronze exactly-once across restarts."""
    bronze = str(tmp_path / "bronze")
    feed = FakeFeed()
    feed.extend(9)
    p1 = RestPoller(feed.fetch_since, bronze)
    assert p1.poll_once() == 9
    # simulate the crash window: the batch file landed, the state didn't
    os.remove(os.path.join(bronze, "_poller_state.json"))
    p2 = RestPoller(feed.fetch_since, bronze)
    assert p2.last_id == 9  # recovered from the filename, not the state
    assert p2.poll_once() == 0  # nothing re-lands
    feed.extend(4)
    assert p2.poll_once() == 4
    rows = []
    for f in os.listdir(bronze):
        if f.startswith("batch_"):
            rows += [json.loads(line) for line in open(os.path.join(bronze, f))]
    assert sorted(r["id"] for r in rows) == list(range(1, 14))  # no dupes


def test_poller_string_id_filename_roundtrip(tmp_path):
    """Non-integer ids must survive the filename embed/recover cycle."""
    bronze = str(tmp_path / "bronze")
    rows = [{"id": f"evt-{i:04d}", "value": float(i)} for i in range(5)]
    p1 = RestPoller(lambda last: [r for r in rows if last is None or r["id"] > last], bronze)
    assert p1.poll_once() == 5
    os.remove(os.path.join(bronze, "_poller_state.json"))
    p2 = RestPoller(p1.fetch_since, bronze)
    assert p2.last_id == "evt-0004"
    assert p2.poll_once() == 0


def test_poller_cursor_survives_restart(tmp_path):
    bronze = str(tmp_path / "bronze")
    feed = FakeFeed()
    feed.extend(7)
    p1 = RestPoller(feed.fetch_since, bronze)
    assert p1.poll_once() == 7
    # a NEW poller instance resumes from the persisted cursor
    p2 = RestPoller(feed.fetch_since, bronze)
    assert p2.last_id == 7 and p2.poll_once() == 0
    feed.extend(3)
    assert p2.poll_once() == 3
    state = json.load(open(os.path.join(bronze, "_poller_state.json")))
    assert state["last_id"] == 10


def test_load_state_mixed_id_types_no_crash(tmp_path):
    """A feed that switches id representation (int state file, str ids in
    landed filenames) must not TypeError in the constructor; recovery
    picks the majority-type max (conservative = at-least-once, absorbed
    by the over-returning-poll dedup)."""
    import json as _json

    from odin_rs_spark.streaming.poller import RestPoller

    bronze = str(tmp_path / "bronze")
    import os as _os

    _os.makedirs(bronze)
    with open(_os.path.join(bronze, "_poller_state.json"), "w") as f:
        _json.dump({"last_id": 3}, f)
    # two landed batches with string ids (hex-encoded, 's' tag)
    for sid in ("evt-0004", "evt-0005"):
        name = RestPoller._name_for_id(sid)
        open(_os.path.join(bronze, name), "w").write("[]")
    p = RestPoller(fetch_since=lambda since: [], bronze_dir=bronze)
    assert p.last_id == "evt-0005"  # str majority (2 vs 1) wins


def test_poll_once_survives_feed_type_switch(tmp_path):
    """Round-3 review: after recovering an int cursor, a feed that now
    returns string ids must not TypeError on the dedup compare — the
    cross-type records are treated as new (at-least-once, safe)."""
    from odin_rs_spark.streaming.poller import RestPoller

    batches = [
        [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}],
        [{"id": "evt-0003", "v": "c"}],  # representation switch
        [{"id": "evt-0003", "v": "c"}, {"id": "evt-0004", "v": "d"}],
    ]
    calls = {"n": 0}

    def fetch(since):
        i = min(calls["n"], len(batches) - 1)
        calls["n"] += 1
        return batches[i]

    p = RestPoller(fetch_since=fetch, bronze_dir=str(tmp_path / "bronze"))
    assert p.poll_once() == 2          # int batch
    assert p.poll_once() == 1          # str batch lands (treated as new)
    assert p.last_id == "evt-0003"
    assert p.poll_once() == 1          # same-type dedup works again
    assert p.last_id == "evt-0004"
