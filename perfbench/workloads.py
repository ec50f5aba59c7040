"""The benchmark's workloads. Each drives only the package's public functions,
from this one process, and returns

    {"primary_s", "secondary_s", "cpu_s", "attempted", "failed", "layers"}

where `layers` holds the per-layer values the workload itself measured
(the traced run adds Spark's per-phase data on top). Correctness gates
run outside the timed region; what they reject counts in `failed`.
"""

from __future__ import annotations

import json
import os
import threading
import time
from statistics import median
from time import perf_counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import accounting as acc
import inputs
from tracing import progress_metrics, trigger_total_s

from odin_rs_spark.streaming.datasource import drain_polling_source, register_rest_source
from odin_rs_spark.streaming.pipelines import (
    latest_per_key_merge,
    partitioned_append_sink,
    run_available_now,
    snapshot_delta_sink,
    windowed_class_counts,
)
from odin_rs_spark.streaming.poller import RestPoller
from odin_rs_spark.streaming.sources import file_stream, replay_stream, split_for_replay
from odin_rs_spark.streaming.state import position_store_state

POSITION_DDL = "id BIGINT, key STRING, ts_us BIGINT, lat DOUBLE, lon DOUBLE"


def _positions(stream):
    return stream.select("key", F.timestamp_micros("ts_us").alias("ts"), "lat", "lon")


def _committing(sink, tracer, commits: dict | None = None):
    """Wrap a foreachBatch sink: time it as the pipelines layer and record
    in `commits` when the call that committed each batch returned."""

    def call(df, batch_id):
        with tracer.span("pipelines.sink", phase="sink"):
            sink(df, batch_id)
        if commits is not None:
            commits[batch_id] = perf_counter()

    return call


def _latest_per_key(records: pd.DataFrame) -> pd.DataFrame:
    """The reference for the position store: newest fix and update count
    per key (timestamps are unique per record by construction)."""
    last = records.sort_values("ts_us").groupby("key").tail(1).set_index("key")
    last["n_updates"] = records.groupby("key").size()
    return last[["ts_us", "lat", "lon", "n_updates"]].sort_index()


def _snapshot_matches(snap_dir: str, records: pd.DataFrame) -> bool:
    got = pd.read_parquet(snap_dir)
    got = got.assign(ts_us=got["ts"].astype("datetime64[us]").astype("int64"))
    got = got.set_index("key")[["ts_us", "lat", "lon", "n_updates"]].sort_index()
    want = _latest_per_key(records)
    return got.index.equals(want.index) and np.array_equal(
        got.to_numpy(dtype=float), want.to_numpy(dtype=float)
    )


def _sink_layers(tracer, skip: int = 0) -> dict:
    spans = tracer.spans.get("pipelines.sink", [])[skip:]
    jobs = tracer.span_jobs.get("pipelines.sink", [])[skip:]
    return {
        "pipelines.sink_s_p50": median(spans) if spans else 0.0,
        "pipelines.sink_s_max": max(spans, default=0.0),
        "pipelines.sink_jobs_per_batch": sum(jobs) / len(jobs) if jobs else 0.0,
    }


# --------------------------------------------------------------------------
# live_ingest: open loop at one fixed offered rate
# --------------------------------------------------------------------------

# The serving query runs on a processing-time trigger, as a live
# deployment does. Triggers fire on wall-clock multiples of TRIGGER_S, and
# the ticks start half a tick after one, so every tick waits the same
# time for its trigger in every run and no tick races a listing. A batch
# takes ~2.5-4.5 s on 4 cores, so batches never run back to back, and
# freshness is that fixed wait plus the batch's trigger overhead and sink.
TRIGGER_S = inputs.LIVE_TRIGGER_S
TICK_OFFSET_S = 0.5 / inputs.TICKS_PER_S
# Untimed warm-up: one trigger's worth of one-tick files in one batch, so
# the first multi-file listing happens before timing.
WARM_TICKS = TRIGGER_S * inputs.TICKS_PER_S


def live_ingest(spark, inp: dict, work: str, seconds: int, tracer) -> dict:
    k = inputs.RECORDS_PER_TICK
    records = pd.read_parquet(os.path.join(inp["live"], "records.parquet"))
    n_ticks = len(records) // k
    ticks = [records.iloc[i * k : (i + 1) * k].to_dict("records") for i in range(n_ticks)]
    bronze, ckpt = os.path.join(work, "bronze"), os.path.join(work, "ckpt")
    snap, delta = os.path.join(work, "snapshot"), os.path.join(work, "delta")

    current = [0]
    poller = RestPoller(lambda last_id: ticks[current[0]], bronze)
    commits: dict[int, float] = {}
    sink = snapshot_delta_sink(snap, delta, latest_per_key_merge(["key"]))
    store = position_store_state(
        _positions(file_stream(spark, bronze, POSITION_DDL, fmt="json")).groupBy("key")
    )
    for i in range(WARM_TICKS):
        current[0] = i
        poller.poll_once()
    q = (
        store.writeStream.foreachBatch(_committing(sink, tracer, commits))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        n_warm_batches = len(commits)
        t_wall = time.time()
        start_wall = (t_wall // TRIGGER_S + 1) * TRIGGER_S + TICK_OFFSET_S
        due: dict[int, float] = {}
        sent: dict[int, float] = {}
        errors: list[BaseException] = []

        def generate(t0: float) -> None:
            try:
                for i in range(WARM_TICKS, n_ticks):
                    due[i] = t0 + (i - WARM_TICKS) / inputs.TICKS_PER_S
                    wait = due[i] - perf_counter()
                    if wait > 0:
                        time.sleep(wait)
                    sent[i] = perf_counter()
                    current[0] = i
                    with tracer.span("poller.poll_once"):
                        poller.poll_once()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)

        t0 = perf_counter() + start_wall - time.time()
        time.sleep(max(0.0, t0 - perf_counter() - 0.05))
        cpu0 = acc.tree_cpu_s()
        gen = threading.Thread(target=generate, args=(t0,))
        gen.start()
        gen.join()
        if errors:
            raise errors[0]
        q.processAllAvailable()
        cpu_s = acc.tree_cpu_s() - cpu0
    finally:
        q.stop()

    # gates: each bronze file in exactly one batch, every tick committed
    # once, and the served snapshot equal to latest-per-key over all records
    by_file = acc.file_batches(ckpt)
    tick_batch: dict[int, int] = {}
    failed_ticks = set(range(WARM_TICKS, n_ticks))
    for name in os.listdir(bronze):
        max_id = RestPoller._id_from_name(name)  # the file's largest record id
        if isinstance(max_id, int):
            tick = max_id // k - 1
            batches = by_file.get(name, [])
            if len(batches) == 1 and batches[0] in commits:
                tick_batch[tick] = batches[0]
                failed_ticks.discard(tick)
    if not _snapshot_matches(snap, records):
        failed_ticks = set(range(WARM_TICKS, n_ticks))
    fresh = acc.freshness(due, tick_batch, commits)
    p50, p90 = acc.percentile(fresh, 0.5), acc.percentile(fresh, 0.9)
    if p50 is None or p90 is None:
        raise RuntimeError(f"only {len(fresh)} committed ticks; p90 needs >= 100")
    late = acc.lateness(due, sent)
    layers = {
        "poller.poll_once_s_p50": median(tracer.spans["poller.poll_once"])
        if tracer.spans.get("poller.poll_once")
        else 0.0,
        "gen.lateness_p90_s": acc.percentile(late, 0.9),
        "trigger.batch_lag_s_max": max(acc.batch_lag(due, tick_batch, commits).values()),
        "pipelines.snapshot_rows": len(pd.read_parquet(snap)),
        **_sink_layers(tracer, skip=n_warm_batches),
        **progress_metrics(tracer.progress_since(t_wall)),
    }
    return {
        "primary_s": p50,
        "secondary_s": p90,
        "cpu_s": cpu_s,
        "attempted": n_ticks - WARM_TICKS,
        "failed": len(failed_ticks),
        "layers": layers,
    }


# --------------------------------------------------------------------------
# backfill_replay: closed loop, catch up on a seeded history
# --------------------------------------------------------------------------

N_CHUNKS = 4  # file-replay leg: one micro-batch per chunk
DRAIN_PASSES = 2  # REST leg: one availableNow query lifecycle per pass
WINDOW_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
       CASE WHEN value < 50 THEN 'low' WHEN value < 200 THEN 'mid'
            ELSE 'high' END AS class,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM read_parquet('{hist}')
GROUP BY 1, 2
HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
       <= (SELECT max(ts) FROM read_parquet('{hist}')) - INTERVAL 2 HOUR
"""


def _replay_round(spark, inp: str, rdir: str, tracer) -> tuple[float, float, list]:
    """One catch-up of the whole history through both legs; returns the
    seconds of each leg and the REST leg's queries."""
    hist = spark.read.parquet(os.path.join(inp, "history.parquet")).select("ts", "value")
    t0 = perf_counter()
    with tracer.span("sources.split_for_replay", phase="split"):
        split_for_replay(hist, os.path.join(rdir, "chunks"), N_CHUNKS, "ts")
    agg = windowed_class_counts(replay_stream(spark, os.path.join(rdir, "chunks"), hist.schema))
    run_available_now(
        agg,
        _committing(partitioned_append_sink(os.path.join(rdir, "windows")), tracer),
        os.path.join(rdir, "ckpt_windows"),
        output_mode="append",
    )
    t1 = perf_counter()

    register_rest_source(spark)
    sink = _committing(
        snapshot_delta_sink(
            os.path.join(rdir, "snapshot"), os.path.join(rdir, "delta"), latest_per_key_merge(["key"])
        ),
        tracer,
    )
    queries = []

    def start_run():
        stream = (
            spark.readStream.format("odin_rest")
            .schema(POSITION_DDL)
            .option("path", os.path.join(inp, "feed.jsonl"))
            .option("batch_limit", str(-(-inputs.BACKFILL_ROWS // DRAIN_PASSES)))
            .load()
        )
        q = (
            position_store_state(_positions(stream).groupBy("key"))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(rdir, "ckpt_rest"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        queries.append(q)
        return q

    with tracer.span("datasource.drain_polling_source"):
        drain_polling_source(start_run, expected_rows=inputs.BACKFILL_ROWS)
    return t1 - t0, perf_counter() - t1, queries


def _failed_legs(inp: str, rdir: str, con) -> int:
    """Legs of the round whose output differs from DuckDB over the feed."""
    hist = os.path.join(inp, "history.parquet")
    want = con.sql(WINDOW_SQL.format(hist=hist)).df()
    got = con.sql(
        f"SELECT win_start, class, n, sum_value FROM read_parquet('{rdir}/windows/**/*.parquet')"
    ).df()
    key = ["win_start", "class"]
    bad = 0
    if not got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True)[got.columns]
    ):
        bad += 1
    feed = pd.read_parquet(hist).assign(
        ts_us=lambda d: d["ts"].astype("datetime64[us]").astype("int64")
    )
    if not _snapshot_matches(os.path.join(rdir, "snapshot"), feed):
        bad += 1
    return bad


def backfill_replay(spark, inp: dict, work: str, seconds: int, tracer) -> dict:
    """Exactly one catch-up round per run: on a 4-core host it takes longer
    than the run length already, and a second, warmer round would mix two
    different costs into one median. The round is the first streaming
    work of the process, so it includes the first-use costs a fresh
    backfill job pays."""
    import duckdb

    t_wall = time.time()
    c0 = acc.tree_cpu_s()
    file_s, rest_s, queries = _replay_round(spark, inp["backfill"], work, tracer)
    cpu_s = acc.tree_cpu_s() - c0
    failed = _failed_legs(inp["backfill"], work, duckdb.connect())
    drain = tracer.spans.get("datasource.drain_polling_source", [])
    split_jobs = tracer.span_jobs.get("sources.split_for_replay", [0])
    layers = {
        "sources.split_s": sum(tracer.spans.get("sources.split_for_replay", [])),
        "sources.split_jobs": split_jobs[0],
        "datasource.passes": len(queries),
        "datasource.outside_trigger_s": sum(drain) - trigger_total_s(queries) if drain else 0.0,
        "pipelines.snapshot_rows": len(pd.read_parquet(os.path.join(work, "snapshot"))),
        **_sink_layers(tracer),
        **progress_metrics(tracer.progress_since(t_wall)),
    }
    attempted = 2  # the two legs
    if "analyst" in inp:  # traced runs carry the plans layer; see plans_layer
        plans, n, bad = plans_layer(spark, inp["analyst"], tracer)
        layers.update(plans)
        attempted, failed = attempted + n, failed + bad
    return {
        "primary_s": file_s,
        "secondary_s": rest_s,
        "cpu_s": cpu_s,
        "attempted": attempted,
        "failed": failed,
        "layers": layers,
    }


# --------------------------------------------------------------------------
# the plans layer: two catalog query classes, in traced runs only
# --------------------------------------------------------------------------


def _failed_queries(spark, inp: str, order: dict) -> int:
    """Queries that raise or whose result differs from their DuckDB
    oracle (QuerySpec.sql) over the same tables."""
    import duckdb

    from odin_rs_spark.plans.catalog import CATALOG
    from tests.oracle import compare

    con = duckdb.connect()
    for table in inputs.ANALYST_ROWS:
        path = os.path.join(inp, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    bad = 0
    for name in (n for names in order.values() for n in names):
        try:
            ok, _ = compare(CATALOG[name].fn(spark, inp), con, CATALOG[name].sql)
        except Exception:  # noqa: BLE001 - a query that raises is a failure
            ok = False
        bad += not ok
    return bad


def plans_layer(spark, inp: str, tracer) -> tuple[dict, int, int]:
    """The plans.* per-layer metrics: the oracle check first (untimed; it
    also warms every query), then one traced pass over both classes, each
    query as its catalog function (build phase) and a noop write of the
    result (run phase). Returns (layers, attempted, failed)."""
    from odin_rs_spark.plans.catalog import CATALOG

    with open(os.path.join(inp, "order.json")) as f:
        order = json.load(f)
    failed = _failed_queries(spark, inp, order)
    for cls, names in order.items():
        for name in names:
            with tracer.span(f"plans.build.{cls}", phase="build"):
                df = CATALOG[name].fn(spark, inp)
            with tracer.span(f"plans.run.{cls}", phase="run"):
                df.write.format("noop").mode("overwrite").save()
    layers = {}
    for cls in order:
        for phase in ("build", "run"):
            layers[f"plans.{phase}_s.{cls}"] = sum(tracer.spans[f"plans.{phase}.{cls}"])
            layers[f"plans.{phase}_jobs.{cls}"] = sum(tracer.span_jobs[f"plans.{phase}.{cls}"])
    return layers, sum(len(v) for v in order.values()), failed


WORKLOADS = {
    "live_ingest": live_ingest,
    "backfill_replay": backfill_replay,
}
