"""Streaming sources (SURVEY §2.1 S1/S6 file streams, T1/T2 triggers,
T11 replay).

The reference's importer pattern — poll a feed, pick up only objects
newer than the last seen key (odin_goesr/src/lib.rs:421-447) — is
exactly Spark's file-stream source: checkpointed listing, each file
processed once, `maxFilesPerTrigger` as the backpressure bound
(mirroring the bounded actor mailbox, odin_actor/src/lib.rs:30).

Replay (T11, odin_common/src/sim_clock.rs:52): split a historical table
into time-ordered chunk files and stream them back with
maxFilesPerTrigger=1 — event-time processing makes the replay
equivalent to the live run, no settable clock needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental file listing source (S1/S6 semantics). At 100 TB the
    listing cost is bounded by partition-path layout (source/yyyy/ddd/hh
    in the reference, =partition dirs here) — pass a glob that prunes.

    Each micro-batch re-resolves its new files as explicit paths in
    `getBatch`, so a batch over more files than
    `spark.sql.sources.parallelPartitionDiscovery.threshold` pays a
    distributed listing job; `get_spark` raises that threshold on local
    masters so such batches list on the driver."""
    try:
        # parquet isAdjustedToUTC=0 must stream as TIMESTAMP (LTZ), not NTZ:
        # withWatermark and window() require TIMESTAMP (session TZ is UTC so
        # the instants are unchanged)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    reader = spark.readStream.schema(schema)
    opts = dict(options or {})
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    for k, v in opts.items():
        reader = reader.option(k, v)
    from odin_rs_spark.sources.tables import normalize_ntz

    return normalize_ntz(reader.format(fmt).load(path))


def split_for_replay(
    df: DataFrame, out_dir: str, n_chunks: int, order_col: str
) -> list[str]:
    """Materialize a batch table as `n_chunks` time-ordered parquet chunk
    files for replay through `replay_stream` (T11). Chunk i holds the
    rows of ntile(n_chunks) OVER (ORDER BY order_col) = i, so
    maxFilesPerTrigger=1 replays history in event order — the
    micro-batch analog of the reference's Initialize/Update seam
    (odin_goesr/src/live_importer.rs:108-134).

    One job writes every chunk: a `partitionBy("__chunk")` write into a
    sibling staging directory whose `__chunk=i` dirs are then renamed to
    `out_dir/chunk_{i:04d}`, replacing any earlier chunk of that name.
    The unpartitioned window leaves the table in one partition, so each
    chunk is exactly one file; the explicit sort on (__chunk, order_col)
    meets the writer's required ordering, so Spark adds no sort of its
    own and rows stay in order_col order. Chunks the write leaves out
    (fewer rows than chunks, or none) get an empty file with the table's
    schema, so the replay still runs one micro-batch per chunk.

    The file source orders new files by modification time, so the chunk
    files get strictly increasing mtimes by chunk index. The stamps sit
    in the PAST (now - n_chunks .. now - 1 s): callers append files
    after this returns and rely on them sorting last (q120's update
    file).
    """
    import shutil
    import time

    from pyspark.sql import Window

    staging = os.path.join(
        os.path.dirname(out_dir), "." + os.path.basename(out_dir) + ".staging"
    )
    w = Window.orderBy(F.col(order_col).asc())
    (
        df.withColumn("__chunk", F.ntile(n_chunks).over(w))
        .sortWithinPartitions("__chunk", order_col)
        .write.mode("overwrite")
        .partitionBy("__chunk")
        .parquet(staging)
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, f"chunk_{i:04d}") for i in range(1, n_chunks + 1)]
    for i, p in enumerate(paths, start=1):
        shutil.rmtree(p, ignore_errors=True)
        written = os.path.join(staging, f"__chunk={i}")
        if os.path.isdir(written):
            os.rename(written, p)
        else:
            df.limit(0).coalesce(1).write.parquet(p)
    shutil.rmtree(staging)
    base = time.time() - n_chunks
    for i, p in enumerate(paths):
        for name in os.listdir(p):
            os.utime(os.path.join(p, name), (base + i, base + i))
    return paths


def replay_stream(
    spark: SparkSession,
    chunk_root: str,
    schema,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Stream previously split chunks back in order (glob over chunk dirs)."""
    return file_stream(
        spark,
        os.path.join(chunk_root, "chunk_*"),
        schema,
        max_files_per_trigger=files_per_trigger,
    )
