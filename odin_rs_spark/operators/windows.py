"""Window / ranking / retention operators (SURVEY §2.6-2.7, W1-W7, O1-O5).

The reference's bounded per-key deques and ring buffers become window-rank
retention: one shuffle on the partition key, rank, filter. At scale the
key cardinality (devices, aircraft, satellites×hour) provides the
parallelism; AQE coalesces small partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_n_per_key(
    df: DataFrame, keys: list[str], order_col: str, n: int, tiebreak: list[str] | None = None
) -> DataFrame:
    """W2/O4 — per-key newest-N retention (sort_in_record cap semantics,
    odin_sentinel/src/lib.rs:898-949). Deterministic tie-break: ts desc,
    then tiebreak cols desc (SURVEY §7.4.1)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def latest_per_key(
    df: DataFrame, keys: list[str], order_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """A6 — newest record per key (latest_records,
    odin_sentinel/src/lib.rs:610-616)."""
    return last_n_per_key(df, keys, order_col, 1, tiebreak)


def track_trace(
    df: DataFrame,
    key: str,
    ts: str,
    lon: str = "lon",
    lat: str = "lat",
    min_gap_sec: float = 0.8,
    max_positions: int | None = None,
) -> DataFrame:
    """W3/W4 — per-key track derivation (Aircraft::push_position,
    odin_adsb/src/lib.rs:221-244):

    1. collapse near-duplicate updates (< min_gap_sec apart, ref: 800 ms)
       keeping the LATEST of each dense run — the reference REPLACES the
       stored last point on a sub-gap update, and a replaced point is the
       raw predecessor of the next, so "last of each maximal chain of
       sub-gap neighbors" is exactly the replace semantics (and what the
       streaming twin `state.track_trace_state` retains);
    2. derive bearing from consecutive points (GeoPoint::bearing_from,
       odin_common/src/geo.rs:102) and elapsed seconds;
    3. optional newest-N cap per key.

    One window spec (partitionBy key, orderBy ts) reused for all three →
    a single shuffle + sort.
    """
    from odin_rs_spark.functions.geo import bearing_deg

    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    gap_next = (
        F.unix_micros(F.lead(ts).over(w)) - F.unix_micros(F.col(ts))
    ) / F.lit(1e6)
    collapsed = df.withColumn("__gap_next", gap_next).filter(
        F.col("__gap_next").isNull() | (F.col("__gap_next") >= min_gap_sec)
    )

    w2 = Window.partitionBy(key).orderBy(F.col(ts).asc())
    out = (
        collapsed.withColumn("prev_lon", F.lag(lon).over(w2))
        .withColumn("prev_lat", F.lag(lat).over(w2))
        .withColumn(
            "elapsed_sec",
            (F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(ts).over(w2))) / F.lit(1e6),
        )
        .withColumn(
            "bearing_deg",
            bearing_deg("prev_lon", "prev_lat", lon, lat),
        )
        .drop("__gap_next")
    )
    if max_positions is not None:
        out = last_n_per_key(out, [key], ts, max_positions)
    return out


def cumulative_cdf(df: DataFrame, bin_col: str, count_col: str = "n") -> DataFrame:
    """A7 — histogram → cumulative distribution (histogram equalization,
    odin_image/src/lib.rs:149-217): running sum + normalize."""
    # RANGE frame, not ROWS: duplicate bin values must share ONE cum/cdf
    # (ROWS would assign tied rows arbitrary, order-dependent partial
    # sums) — and SQL's default frame for `sum() OVER (ORDER BY bin)` is
    # RANGE, so this is also what the oracle computes
    # unpartitioned, but bounded: one row per histogram bin, not per event
    w = Window.orderBy(F.col(bin_col).asc()).rangeBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.withColumn("cum", F.sum(count_col).over(w)).withColumn(
        "cdf", F.col("cum") / F.sum(count_col).over(total)
    )


def loess_smooth(
    df: DataFrame, series_key: str, x: str, y: str, bandwidth_rows: int = 5
) -> DataFrame:
    """W7 — locally-weighted linear fit over a ±bandwidth row window
    (odin_image/src/loess.rs:20-116), expressed with covariance aggregates
    over a frame (no UDF): ŷ = ȳ + cov(x,y)/var(x) · (x − x̄).

    Uniform weights within the frame (the reference uses tricube; the
    windowed-regression shape is identical, and a pandas_udf drop-in can
    swap the kernel if exact parity is required).

    Numerical hygiene: x is ANCHORED to the per-key minimum before the
    E[x²]−E[x]² moments — translation leaves slope/ŷ mathematically
    unchanged, but without it a large-magnitude x (epoch micros ≈ 1.7e9
    s) makes avg(x·x) − mx² pure cancellation noise (double ulp at
    x² ≈ 3e18 is ~512) and the fit silently degrades to a moving
    average. The oracle applies the identical anchor.
    """
    wkey = Window.partitionBy(series_key)
    w = (
        Window.partitionBy(series_key)
        .orderBy(F.col(x).asc())
        .rowsBetween(-bandwidth_rows, bandwidth_rows)
    )
    xa = F.col(x) - F.min(x).over(wkey)
    mx = F.avg(xa).over(w)
    my = F.avg(y).over(w)
    cov = F.avg(xa * F.col(y)).over(w) - mx * my
    var = F.avg(xa * xa).over(w) - mx * mx
    slope = F.when(var > 0, cov / var).otherwise(F.lit(0.0))
    return df.withColumn("y_smooth", my + slope * (xa - mx))


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: float = 30.0,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event for the same key exceeds the gap. Adds a
    per-key 1-based `session_seq` column.

    One shuffle (the key partition); the lag + running-sum pair runs in
    a single window sort. Ties on ts are broken by `tiebreak` columns so
    the assignment is deterministic (and reproducible in the SQL
    oracle). Batch twin of Structured Streaming's session_window — use
    that for live streams; this form backfills history and is
    oracle-checkable. Boundary rule: a new session starts at gap >=
    `gap_minutes` — Spark's session_window windows are [t, t+gap)
    END-EXCLUSIVE, so two events exactly one gap apart do NOT merge;
    this batch twin uses the same rule (q117's streaming oracle pins
    it).
    """
    tb = tiebreak or []
    w = Window.partitionBy(key).orderBy(ts, *tb)
    gap_s = gap_minutes * 60.0
    prev = F.lag(F.col(ts)).over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col(ts)) - F.unix_micros(prev)) / 1e6 >= gap_s),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(key).orderBy(ts, *tb).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(is_new).over(run))


def session_stats(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: float = 30.0,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-session rollup over `sessionize`: event count and span."""
    s = sessionize(df, key, ts, gap_minutes, tiebreak)
    return s.groupBy(key, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Type-2 slowly-changing-dimension build (the Kimball SCD2
    primitive every lakehouse dimension pipeline runs): collapse an
    event history into per-key validity intervals — one row per
    VALUE CHANGE with [valid_from, valid_to) bounds and an is_current
    flag (valid_to NULL on the open interval).

    Consecutive repeats of the same attribute value are change-points
    only once (lag-compare); ``order_cols`` break timestamp ties
    deterministically (pass the unique event id).

    Scale shape: two windows over the SAME (key, ts) partitioning —
    one exchange total; the output is change-points, not events, so
    downstream joins against the dimension are as-of joins on a table
    that is usually orders of magnitude smaller than the history."""
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    changed = df.withColumn(
        "__prev", F.lag(F.col(attr_col)).over(w)
    ).where(
        F.col("__prev").isNull() | (F.col(attr_col) != F.col("__prev"))
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    return (
        changed.withColumn("__to", F.lead(F.col(ts_col)).over(w2))
        .select(
            F.col(key_col),
            F.col(attr_col),
            F.col(ts_col).alias("valid_from"),
            F.col("__to").alias("valid_to"),
            F.col("__to").isNull().alias("is_current"),
        )
    )


def cdc_apply(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a Debezium-style changelog to a snapshot: last writer (by
    ``seq_col``) wins per key, and a trailing DELETE tombstone ('D')
    removes the key from the result entirely — the semantics that
    distinguish CDC apply from plain keyed-latest dedup (q17's shape),
    where a delete would wrongly survive as a row.

    One deterministic max-struct aggregation per key (map-side
    combinable — never a window sort over the full changelog), then
    the tombstone filter."""
    others = [c for c in df.columns if c != key_col]
    packed = df.groupBy(key_col).agg(
        F.max(F.struct(F.col(seq_col), *[F.col(c) for c in others if c != seq_col])).alias("__m")
    )
    out = packed.select(
        key_col,
        F.col(f"__m.{seq_col}").alias(seq_col),
        *[
            F.col(f"__m.{c}").alias(c)
            for c in others
            if c != seq_col
        ],
    )
    return out.where(F.col(op_col) != "D")
