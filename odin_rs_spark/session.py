"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config below is chosen so the same code
deploys to a 1000-executor cluster unchanged:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune with data volume.
- UTC session timezone so event-time semantics match the reference
  (DateTime<Utc> everywhere, odin_common/src/datetime.rs) and the DuckDB
  oracle (UTC-naive timestamps).
- Arrow enabled for the few Pandas-UDF operators (vectorized transfer).
- Local masters list files on the driver. Above
  `spark.sql.sources.parallelPartitionDiscovery.threshold` paths (Spark's
  default is 32) `InMemoryFileIndex` lists them in a distributed job, one
  task per path. A file-stream batch re-resolves its new files as explicit
  paths, so a live batch over 60 one-tick files paid that job inside
  `getBatch`. On `local[...]` the tasks run on the driver's own cores: the
  job adds scheduling and CPU, no parallelism. Cluster masters keep Spark's
  default, since object-store listing does gain from executor parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "odin_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from the environment so tests,
    bench.py, and the driver share one code path: SPARK_GRAFT_CPUS sets the
    local parallelism; on a real cluster ``master`` is left to spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's parquet stores ts with isAdjustedToUTC=0; without this
        # Spark 4 infers TIMESTAMP_NTZ, which unix_micros/withWatermark/cast
        # reject. Session TZ is pinned UTC so LTZ values are identical to the
        # stored instants and DuckDB-oracle parity holds.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Driver/executor memory only applies at JVM launch (harmless later).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package zip to Python workers up front: any Pandas-UDF
    # closure referencing module-level helpers unpickles on workers that
    # cannot otherwise import odin_rs_spark when the driver runs from a
    # cwd off the repo (the --py-files path on a real cluster). Operator
    # call sites still call ensure_shipped for sessions built elsewhere.
    from odin_rs_spark.deploy import ensure_shipped

    ensure_shipped(spark)
    return spark


def warm_workers(spark: SparkSession) -> None:
    """Start the pandas-UDF worker pool and pre-import the decode modules
    in it, so the first query of each kind is not billed for per-process
    fixed cost.

    The pool starts one Python worker per core on first pandas-UDF use
    (~6 s on 32 cores). With `spark.python.worker.reuse` (the default)
    each pooled worker then pays the numpy + codec-module import chain
    once: on a cold pool that lands in whichever decode query a worker
    first serves (q206's five-codec union measured 87 s executor time
    against 2 s CPU). Opt-in: `get_spark` does not call it, so callers
    that time their own warm-up keep that cost where they measure it.
    """
    from pyspark.sql import functions as F

    from odin_rs_spark.deploy import ensure_shipped

    ensure_shipped(spark)  # the workers import the package below

    def _warm_imports(s):  # no hints: this module has postponed annotations
        import numpy  # noqa: F401
        import odin_rs_spark.operators.multimodal  # noqa: F401
        import odin_rs_spark.sources.officedoc  # noqa: F401
        import odin_rs_spark.sources.pdfcodec  # noqa: F401
        import odin_rs_spark.sources.warc  # noqa: F401

        return s

    spark.range(1000).selectExpr("sum(id)").collect()
    # one pandas-UDF job over more tasks than cores: it starts the pool
    # and runs the imports in every pooled worker
    spark.range(100000).repartition(64).select(
        F.sum(F.pandas_udf(_warm_imports, "long")("id"))
    ).collect()
