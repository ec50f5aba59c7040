"""Composed streaming pipelines (SURVEY §3.1 restated, T1/T7, K1/K2).

The reference's canonical flow — importer → parse → filter/classify →
keyed store → websocket delta broadcast + on-connect snapshot — becomes:
file stream → column transforms → watermarked agg / keyed state →
foreachBatch maintaining a snapshot table (K2) while appending deltas
(K1). Snapshot = complete current state; delta = this micro-batch's
changes; exactly the Initialize/Update protocol of
odin_goesr/src/actor.rs:40-88.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def classify_events(stream: DataFrame) -> DataFrame:
    """F2-style recode of the synthetic events stream (stands in for the
    hotspot mask→class mapping, odin_goesr/src/lib.rs:96-107)."""
    return stream.withColumn(
        "class",
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high"),
    )


def windowed_class_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """A1 as a streaming windowed aggregation: per-window per-class
    counts with late-data tolerance bounded by the watermark (T6).
    Partial (map-side) aggregation happens before the shuffle, so
    per-window state is O(#classes), not O(#events)."""
    return (
        classify_events(stream)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "class")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "class",
            "n",
            "sum_value",
        )
    )


def recover_snapshot(snapshot_dir: str) -> None:
    """Crash recovery for the rename-swap snapshot protocol (called
    before every read of `snapshot_dir`): a crash between the two
    os.rename calls leaves the current state parked at '.old' (or a
    COMPLETE '_SUCCESS'-marked new state at '.staging') with
    `snapshot_dir` itself missing. Without this, the next batch would
    read old=None AND delete the '.old' copy — silently losing all
    pre-crash state. Preference order: a complete staging dir is the
    NEWER state (the merge that produced it finished), else the retired
    copy is the last complete state."""
    if os.path.exists(snapshot_dir):
        return
    staging = snapshot_dir.rstrip("/") + ".staging"
    retired = snapshot_dir.rstrip("/") + ".old"
    if os.path.exists(os.path.join(staging, "_SUCCESS")):
        os.rename(staging, snapshot_dir)
        shutil.rmtree(retired, ignore_errors=True)
    elif os.path.exists(retired):
        os.rename(retired, snapshot_dir)


def atomic_snapshot_swap(new_snap: DataFrame, snapshot_dir: str) -> None:
    """ONE write to staging, then a directory swap: a rewrite-in-place
    path writes the snapshot twice per batch and deletes the target
    before the second write (a crash there loses the snapshot); renames
    keep a complete snapshot on disk at every instant except the
    two-rename window — and `recover_snapshot` closes even that one.

    Transactional swap point: this parquet staging+rename dance is what
    a Delta/Iceberg table replaces outright — `MERGE INTO` (or
    overwrite) is atomic at the table-commit level, readers never see a
    missing directory, and the per-batch O(store) snapshot rewrite
    becomes an O(changed-files) commit. On a cluster this function is
    one `DeltaTable.merge` call; the shape of everything around it is
    unchanged."""
    staging = snapshot_dir.rstrip("/") + ".staging"
    retired = snapshot_dir.rstrip("/") + ".old"
    shutil.rmtree(staging, ignore_errors=True)
    new_snap.write.mode("overwrite").parquet(staging)
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.exists(snapshot_dir):
        os.rename(snapshot_dir, retired)
    os.rename(staging, snapshot_dir)
    shutil.rmtree(retired, ignore_errors=True)


def read_snapshot(
    spark: SparkSession, snapshot_dir: str, schema: StructType | None = None
) -> DataFrame | None:
    """Read the current snapshot, running crash recovery first; None if
    no snapshot has ever been committed. A known `schema` skips the
    parquet schema-inference job."""
    recover_snapshot(snapshot_dir)
    if os.path.exists(snapshot_dir):
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(snapshot_dir)
    return None


def _holds_data_file(path: str) -> bool:
    """Whether a parquet scan of `path` would find a file: Spark skips
    names starting with '.', and with '_' unless they are `k=v`
    partition directories."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and ("=" in d or not d.startswith("_"))
        ]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def read_sink_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a foreachBatch sink directory after the stream drains, or an
    empty DataFrame with `schema` (a DDL string) when it holds no data
    file: the replayed source yielded ZERO batches (foreachBatch never
    fired, so the directory was never created), or every batch was
    empty (`partitioned_append_sink` lands no partition for an empty
    batch). A bare spark.read.parquet would throw AnalysisException in
    both cases where the query semantics call for an empty result.
    Rename-swap crash recovery runs first, so it is also safe on
    snapshot directories."""
    recover_snapshot(path)
    if _holds_data_file(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)


def latest_per_key_merge(key_cols: list[str]):
    """merge_fn for `snapshot_delta_sink`: this batch's rows win per
    key, untouched keys survive from the old snapshot — the generic
    keyed-store upsert (odin_server's per-entity item map). One
    left_anti hash join per batch, O(batch + store), no driver state."""

    def merge(old: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        if old is None:
            return batch_df
        # a left-anti join ignores duplicate keys on its right side, so
        # no distinct (and no extra shuffle) is needed before it
        keep = old.join(batch_df.select(*key_cols), on=key_cols, how="left_anti")
        return batch_df.unionByName(keep)

    return merge


def snapshot_sink(snapshot_dir: str, merge_fn):
    """foreachBatch sink keeping `snapshot_dir` as the current complete
    state: `merge_fn(old_snapshot_df | None, batch_df) -> DataFrame`
    computes it, `atomic_snapshot_swap` replaces it. The closure reads
    the old snapshot with the schema it last wrote (the merge's output,
    which can differ from the batch's), so only the first batch after a
    start pays a parquet schema-inference job."""
    snap_schema = None

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal snap_schema
        old = read_snapshot(batch_df.sparkSession, snapshot_dir, snap_schema)
        new_snap = merge_fn(old, batch_df)
        atomic_snapshot_swap(new_snap, snapshot_dir)
        snap_schema = new_snap.schema

    return sink


def snapshot_delta_sink(
    snapshot_dir: str,
    delta_dir: str,
    merge_fn,
):
    """foreachBatch sink maintaining BOTH output modes of the reference
    server (odin_server/src/spa.rs:486-723):

    - `delta_dir`: per-micro-batch changes (K1 broadcast payloads),
      landed by `partitioned_append_sink`, so a retried or replayed
      batch replaces its first attempt;
    - `snapshot_dir`: the current complete state a newly connected
      client receives (K2), kept by `snapshot_sink(snapshot_dir,
      merge_fn)`, e.g. with `latest_per_key_merge`.

    Parquet stands in for a transactional table format; on a cluster
    this sink is a Delta MERGE + CDF read, same shape (see
    `atomic_snapshot_swap` for the exact swap point).

    Only the landing write runs the batch's plan: the merge reads the
    landed `__batch_id=N` partition back with the batch's schema (no
    inference job). An empty batch lands no partition, so the merge
    gets an empty frame of that schema and the first batch still
    creates the snapshot.
    """
    land = partitioned_append_sink(delta_dir)
    merge_into_snapshot = snapshot_sink(snapshot_dir, merge_fn)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        land(batch_df, batch_id)
        landed = os.path.join(delta_dir, f"__batch_id={batch_id}")
        if os.path.exists(landed):
            changes = spark.read.schema(batch_df.schema).parquet(landed)
        else:
            changes = spark.createDataFrame([], batch_df.schema)
        merge_into_snapshot(changes, batch_id)

    return sink


def partitioned_append_sink(out_dir: str):
    """foreachBatch sink for APPEND-mode streams whose emissions are
    exactly-once per logical row (watermark-closed windows, streaming
    dropDuplicates): lands each micro-batch as its own `__batch_id=N`
    partition directory with dynamic partition overwrite, so a
    foreachBatch RETRY replaces its own first attempt instead of
    double-appending (`snapshot_delta_sink` reads a batch back by that
    directory name). The read side is a plain parquet scan (drop
    __batch_id). Rows never visit the driver, so output cardinality is
    bounded by the cluster, not driver memory."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_dir)
        )

    return sink


def run_available_now(
    stream: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """Drain everything currently available through foreachBatch and
    stop — the reference's catch-up/backfill trigger (T1/T2,
    Trigger.AvailableNow; schedule-driven runs start one of these per
    learned slot, odin_goesr/src/live_importer.rs:120-124)."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(sink_fn)
        .start()
    )
    q.awaitTermination()


def backfill_then_live(
    spark: SparkSession,
    backfill_df: DataFrame,
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str,
) -> None:
    """T7 — Initialize-then-update without duplicate emission across the
    batch/stream seam (odin_goesr/src/actor.rs:40-88): write history
    once, then stream appends drop ids already present (idempotent on
    `id_col`; at scale: Delta MERGE on the id key).
    """
    backfill_df.write.mode("overwrite").parquet(store_dir)

    def dedup_append(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        existing = s.read.parquet(store_dir).select(id_col)
        # dropDuplicates WITHIN the batch too: the seam exists to absorb
        # duplicate delivery, and a twice-landed record inside ONE
        # micro-batch passes the store anti-join on both copies
        fresh = batch_df.dropDuplicates([id_col]).join(
            existing, on=id_col, how="left_anti"
        )
        fresh.write.mode("append").parquet(store_dir)

    run_available_now(stream, dedup_append, checkpoint_dir, output_mode="append")


def incremental_segment_dedup_sink(
    store_dir: str,
    stats_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
    extra_cols: tuple[str, ...] = (),
):
    """Segment-level dedup as a LIVE pipeline (the streaming twin of the
    CCNet/RefinedWeb line-dedup audit, operators.text.line_dup_stats —
    what the production ingest of a training corpus actually runs): per
    micro-batch, flag each segment whose hash already exists in the
    persistent segment store (seen in ANY earlier batch), append
    per-document stats, then fold ONLY this batch's previously-unseen
    hashes into the store.

    Incremental-cost contract (the q82 shape): the store grows by an
    append of distinct-new 8-byte hashes — O(batch), never a rewrite of
    the corpus-sized store — and the dup probe is one hash join against
    the store. Documents never shuffle; only (id, hash) pairs move.

    Determinism: a segment instance is a duplicate iff its hash was
    seen in a STRICTLY EARLIER batch (the store updates between
    batches), so a fixed replay chunking replays exactly — the batch
    twin is min-batch-per-hash < my-batch.

    foreachBatch RETRY safety: store rows carry the batch id and the
    dup probe reads only rows with __batch_id < current — a replayed
    batch therefore ignores its own first attempt's append and
    recomputes identical stats; the stats land through
    `partitioned_append_sink`, which overwrites the batch's own
    partition instead of double-appending.
    """
    from odin_rs_spark.operators.text import _segment_hashes

    land_stats = partitioned_append_sink(stats_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        segs = _segment_hashes(
            batch_df, id_col, text_col, seg_words, extra_cols
        ).select(id_col, *extra_cols, "__h")
        segs.persist()
        try:
            store = (
                s.read.parquet(store_dir) if os.path.exists(store_dir) else None
            )
            # only STRICTLY EARLIER batches count as "seen": on a
            # foreachBatch retry the store may already hold this batch's
            # first-attempt rows, which must not flag its own segments
            seen = (
                store.filter(F.col("__batch_id") < batch_id).select("__h")
                if store is not None
                else None
            )
            if seen is not None:
                flagged = segs.join(
                    seen.withColumn("__dup", F.lit(1)), "__h", "left"
                )
            else:
                flagged = segs.withColumn("__dup", F.lit(None).cast("int"))
            stats = flagged.groupBy(id_col, *extra_cols).agg(
                F.count(F.lit(1)).alias("n_segs"),
                F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_dup_segs"),
            )
            land_stats(stats, batch_id)
            new_hashes = segs.select("__h").distinct()
            if store is not None:
                new_hashes = new_hashes.join(
                    store.select("__h").distinct(), "__h", "left_anti"
                )
            new_hashes.withColumn("__batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(store_dir)
        finally:
            segs.unpersist()

    return sink


def session_window_counts(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessions via the built-in session_window:
    per-(key, session) event counts and span, sessions closing when no
    event arrives for `gap`. The live twin of the batch
    `operators.windows.sessionize` (q65) — same session boundaries on
    the same data once the watermark passes. Session-window state
    merges adjacent windows on arrival, so state size is O(open
    sessions per key), not O(events)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
