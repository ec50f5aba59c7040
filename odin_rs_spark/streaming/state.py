"""Keyed streaming state operators (SURVEY §2.11).

Parity targets (behavior only):
  ttl_latest_state   ~ stale-aircraft eviction + removed list (T3)
                       odin_adsb/src/lib.rs:77-133
  position_store_state ~ gpshub keyed device store (T3)
                       gpshub/src/models.rs DeviceStore
  track_trace_state  ~ Aircraft::push_position ring buffer + <0.8 s
                       collapse (W3/T3)  odin_adsb/src/lib.rs:221-244
  inactive_flags     ~ per-device inactive alerting (T4)
                       odin_sentinel/src/alarm.rs:348-449
  alarm_dedup        ~ same-device/same-evidence suppression window (T5)
                       odin_sentinel/src/alarm.rs:199-236
  upsert_sorted_capped ~ sort_in_record: dup-id replace + per-key cap
                       (T6/W2)  odin_sentinel/src/lib.rs:898-949

Scale notes: state is partitioned by key (device_id / icao24) — Spark's
state store shards it across executors; nothing here collects to the
driver. Per-key state is bounded (max_len positions / one row), so
state-store size is O(#keys), the same bound the reference's ring
buffers enforce.

Where a built-in aggregate can hold the state, it does:
position_store_state is a native streaming aggregation (newest fix as a
struct max, a running count), so its state lives in the JVM state store
and no Python worker runs. ttl_latest_state and track_trace_state stay
on applyInPandasWithState — they need processing-time timers and a
ring buffer with near-duplicate collapse, which no built-in aggregate
expresses.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# T3 — TTL keyed latest-state with tombstones
# --------------------------------------------------------------------------

_TTL_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("n_updates", LongType()),
        StructField("removed", StringType()),  # 'live' | 'removed'
    ]
)
_TTL_STATE = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)


def ttl_latest_state(
    grouped, ttl_ms: int | None, output_mode: str = "update"
) -> DataFrame:
    """Latest-value-per-key with processing-time TTL eviction and
    tombstone emission (T3): the streaming restatement of the ADS-B
    store's drop_after sweep that publishes a `removed` list
    (odin_adsb/src/lib.rs:77-101).

    `grouped` is `stream.groupBy(key_col)` where the stream has columns
    (key: string, ts: timestamp, value: double). Emits a 'live' row per
    updated key per micro-batch and a 'removed' tombstone when the key's
    timer expires with no new data.

    ``ttl_ms=None`` disables eviction (NoTimeout). Operational note:
    with a TTL set, run under a processing-time trigger —
    ProcessingTimeTimeout timers keep a Trigger.AvailableNow drain
    spinning empty micro-batches until every timer has fired, so
    catch-up/backfill drains should pass None.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        if state.hasTimedOut:
            ts_us, value, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [k],
                    "ts": [pd.Timestamp(ts_us, unit="us")],
                    "value": [value],
                    "n_updates": [n],
                    "removed": ["removed"],
                }
            )
            return
        ts_us, value, n = (state.get if state.exists else (0, float("nan"), 0))
        for pdf in pdfs:
            # newest row = LAST occurrence of the max ts (what the prior
            # stable-sort-then-iloc[-1] selected), via one argmax pass —
            # 0.24 ms -> 0.015 ms per group, and the group fn runs once
            # per key per micro-batch
            iv = pdf["ts"].to_numpy().view("i8")
            i = int(len(iv) - 1 - iv[::-1].argmax())
            new_us = int(iv[i] // 1_000)
            if new_us >= ts_us:
                ts_us, value = new_us, float(pdf["value"].iat[i])
            n += len(pdf)
        state.update((ts_us, value, n))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "key": [k],
                "ts": [pd.Timestamp(ts_us, unit="us")],
                "value": [value],
                "n_updates": [n],
                "removed": ["live"],
            }
        )

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return grouped.applyInPandasWithState(
        fn, _TTL_OUT, _TTL_STATE, output_mode, timeout_conf
    )


# --------------------------------------------------------------------------
# T3 — keyed GPS position store (the gpshub twin)
# --------------------------------------------------------------------------

_POS_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)


def position_store_state(grouped) -> DataFrame:
    """Latest-position-per-device store (T3): the streaming
    restatement of the reference's GPS hub — JSON position updates
    PUT per device land in a keyed store that always serves each
    device's newest fix plus its update count (gpshub/src/
    handlers.rs update_position → models.rs DeviceStore). Staleness
    is classified downstream against the feed clock (the q42 stale-
    keys discipline), so the store itself needs no timers and drains
    cleanly under Trigger.AvailableNow.

    `grouped` is `stream.groupBy("key")` over columns
    (key string, ts timestamp, lat double, lon double). Emits one
    row per updated key per micro-batch (update output mode) with the
    schema `_POS_OUT`.

    A built-in streaming aggregate: the newest fix is the max of the
    struct (ts, lat, lon) and the update count a running count, both
    kept in the JVM state store (O(#keys)) with no Python worker.
    Exact-`ts` ties break on the struct order: the fix with the larger
    lat, then the larger lon, wins — within one micro-batch and across
    batches alike, so the result never depends on row arrival order.
    """
    out = grouped.agg(
        F.max(F.struct("ts", "lat", "lon")).alias("fix"),
        F.count(F.lit(1)).alias("n_updates"),
    ).select("key", "fix.ts", "fix.lat", "fix.lon", "n_updates")
    # pin the served types whatever numeric types the feed carries
    return out.select(*(F.col(f.name).cast(f.dataType) for f in _POS_OUT.fields))


# --------------------------------------------------------------------------
# W3/T3 — bounded track trace with near-duplicate collapse
# --------------------------------------------------------------------------

_TRACE_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("n_points", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
        StructField("last_lon", DoubleType()),
        StructField("last_lat", DoubleType()),
        StructField("bearing_deg", DoubleType()),
    ]
)
_TRACE_STATE = StructType(
    [
        StructField("ts_ms", StringType()),  # csv-packed ring buffer
        StructField("lons", StringType()),
        StructField("lats", StringType()),
    ]
)


def track_trace_state(
    grouped, max_positions: int = 16, min_gap_ms: int = 800
) -> DataFrame:
    """Per-key ring buffer of the newest `max_positions` positions with
    sub-`min_gap_ms` duplicate collapse and bearing from the last leg —
    streaming Aircraft::push_position (odin_adsb/src/lib.rs:221-244).

    Stream columns: (key: string, ts: timestamp, lon: double,
    lat: double). State is a bounded packed buffer → O(max_positions)
    per key regardless of stream length.
    """
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # no TTL configured; defensive
            state.remove()
            return
        if state.exists:
            ts_s, lon_s, lat_s = state.get
            ts = [int(x) for x in ts_s.split(",")] if ts_s else []
            lons = [float(x) for x in lon_s.split(",")] if lon_s else []
            lats = [float(x) for x in lat_s.split(",")] if lat_s else []
        else:
            ts, lons, lats = [], [], []
        import bisect

        rows = pd.concat(list(pdfs)).sort_values("ts")
        for _, r in rows.iterrows():
            t = int(r["ts"].value // 1_000_000)
            if ts and 0 <= t - ts[-1] < min_gap_ms:
                # collapse: replace the newest position (reference keeps
                # the latest of a sub-800ms pair, lib.rs:233-243)
                ts[-1], lons[-1], lats[-1] = t, float(r["lon"]), float(r["lat"])
            elif ts and t < ts[-1]:
                # CROSS-BATCH late arrival: sorted insert (T6) — an old
                # point must never overwrite the newest position (the
                # lower bound on the gap test matters: t - ts[-1] is
                # NEGATIVE here and would otherwise take the collapse
                # branch and move the track backwards)
                i = bisect.bisect_left(ts, t)
                if not (i < len(ts) and ts[i] == t):  # drop exact-ts dups
                    ts.insert(i, t)
                    lons.insert(i, float(r["lon"]))
                    lats.insert(i, float(r["lat"]))
            else:
                ts.append(t)
                lons.append(float(r["lon"]))
                lats.append(float(r["lat"]))
        ts, lons, lats = ts[-max_positions:], lons[-max_positions:], lats[-max_positions:]
        state.update(
            (
                ",".join(str(x) for x in ts),
                ",".join(repr(x) for x in lons),
                ",".join(repr(x) for x in lats),
            )
        )
        bearing = None
        if len(ts) >= 2:
            lon1, lat1, lon2, lat2 = map(
                math.radians, (lons[-2], lats[-2], lons[-1], lats[-1])
            )
            y = math.sin(lon2 - lon1) * math.cos(lat2)
            x = math.cos(lat1) * math.sin(lat2) - math.sin(lat1) * math.cos(
                lat2
            ) * math.cos(lon2 - lon1)
            bearing = (math.degrees(math.atan2(y, x)) + 360.0) % 360.0
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_points": [len(ts)],
                "first_ts": [pd.Timestamp(ts[0], unit="ms")],
                "last_ts": [pd.Timestamp(ts[-1], unit="ms")],
                "last_lon": [lons[-1]],
                "last_lat": [lats[-1]],
                "bearing_deg": [bearing],
            }
        )

    return grouped.applyInPandasWithState(
        fn, _TRACE_OUT, _TRACE_STATE, "update", GroupStateTimeout.NoTimeout
    )


# --------------------------------------------------------------------------
# T5 — alarm dedup window
# --------------------------------------------------------------------------


def alarm_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    suppress: str = "10 minutes",
) -> DataFrame:
    """Suppress repeated alarms for the same key tuple within the
    suppression window (T5, check_new_alarm odin_sentinel/src/alarm.rs:
    199-236). The reference keys on (device, sorted evidence sensor
    set); callers pass that set pre-hashed as a column (see
    `evidence_set_hash`). Watermark bounds state exactly like
    new_alarm_dur bounds the reported-alarms list.
    """
    return stream.withWatermark(ts_col, suppress).dropDuplicatesWithinWatermark(
        key_cols
    )


def evidence_set_hash(evidences: F.Column) -> F.Column:
    """Order-insensitive hash of an evidence-sensor array
    (same_evidence_sensors, odin_sentinel/src/alarm.rs:60-75)."""
    return F.sha2(F.to_json(F.array_sort(evidences)), 256)


# --------------------------------------------------------------------------
# T4 — inactive-source detection (batch sweep form)
# --------------------------------------------------------------------------


def inactive_flags(
    df: DataFrame, key_cols: list[str], ts_col: str, inactive_after_sec: float
) -> DataFrame:
    """Per-key last-update watermark + inactive flag relative to the
    newest timestamp in scope (T4, check_inactive odin_sentinel/src/
    alarm.rs:348-449). Usable both as a batch sweep and inside
    foreachBatch against the live snapshot table."""
    latest = df.groupBy(*key_cols).agg(F.max(ts_col).alias("last_update"))
    frontier = df.agg(F.max(ts_col).alias("__now"))
    return (
        latest.crossJoin(F.broadcast(frontier))
        .select(
            *key_cols,
            "last_update",
            (
                F.col("__now").cast("double") - F.col("last_update").cast("double")
                > F.lit(inactive_after_sec)
            ).alias("inactive"),
        )
    )


# --------------------------------------------------------------------------
# T6/W2 — keyed store merge with duplicate-id replace + per-key cap
# --------------------------------------------------------------------------


def upsert_sorted_capped(
    store_df: DataFrame | None,
    batch_df: DataFrame,
    id_col: str,
    key_cols: list[str],
    ts_col: str,
    max_len: int,
) -> DataFrame:
    """Merge a micro-batch into a keyed store with sort_in_record
    semantics (odin_sentinel/src/lib.rs:898-949): same-id records
    replace (newest batch wins), per-key retention capped at `max_len`
    newest by (ts desc, id desc) — the deterministic tie-break of
    SURVEY §7.4.1. Late/out-of-order records insert correctly because
    retention re-ranks on event time (T6).

    Pure DataFrame merge for use in foreachBatch: union → dup-id replace
    → window cap. One shuffle on key_cols per batch.
    """
    from pyspark.sql import Window

    tagged_new = batch_df.withColumn("__gen", F.lit(1))
    merged = (
        tagged_new
        if store_df is None
        else store_df.withColumn("__gen", F.lit(0)).unionByName(tagged_new)
    )
    # (__gen desc, ts desc, id desc): newest batch wins across batches,
    # and WITHIN a batch the newest event time wins deterministically
    # (a bare __gen order leaves same-id-same-batch rows to arbitrary,
    # replay-unstable row_number assignment)
    dedup_w = Window.partitionBy(id_col).orderBy(
        F.col("__gen").desc(), F.col(ts_col).desc(), F.col(id_col).desc()
    )
    cap_w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    return (
        merged.withColumn("__dup_rk", F.row_number().over(dedup_w))
        .filter(F.col("__dup_rk") == 1)
        .withColumn("__cap_rk", F.row_number().over(cap_w))
        .filter(F.col("__cap_rk") <= max_len)
        .drop("__gen", "__dup_rk", "__cap_rk")
    )
