#!/usr/bin/env python
"""Benchmark harness: runs the catalog's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "catalog_total", "value": <sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query executes its full plan via a noop sink (no driver-side
collect), so the measurement reflects executor work, not result
serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from odin_rs_spark.plans.catalog import CATALOG
from odin_rs_spark.session import get_spark, warm_workers


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark(app_name="odin_rs_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/session, the Python-UDF worker pool and the decode
    # modules inside it, so the first query of each kind isn't billed for
    # per-process startup
    warm_workers(spark)
    # touch the parquet datasource once (footer reader, vectorized scan
    # classes, Hadoop FS init) so the catalog's first query isn't billed
    # for framework class-loading
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # calibration anchor (VERDICT r10 #8): a fixed synthetic workload
    # timed on every run so cross-round comparisons can normalize out
    # host-speed drift (r9→r10 read 1.33× "slower" on unchanged code;
    # two sessions burned re-measuring before concluding VM noise).
    # Shuffle + agg + a pandas-UDF leg so it tracks the same resources
    # the catalog queries use. min-of-3 like the queries themselves.
    from pyspark.sql import functions as F

    ident = F.pandas_udf(lambda s: s, "long")

    def _calibrate() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(2_000_000).repartition(64).select(
                F.sum(ident("id")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    calibration = _calibrate()

    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")))
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    # FIXED name-sorted order, decoupled from the grading-cap rotation:
    # CATALOG order changes every round as queries rotate to the cap
    # front, and whichever queries run first absorb residual warm-up —
    # r11 measured the same unchanged query at 1.8 s (late in r10's
    # order) vs 14.3 s (first in r11's). Sorting pins each query's
    # position across rounds so per-query deltas stay comparable.
    for name, spec in sorted(CATALOG.items()):
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            try:
                # fault-isolated: one broken query must not zero out the
                # round's entire perf signal (round-1 bench died at q16's
                # AnalysisException before timing anything)
                run_query(spec.fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                failures[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
                print(f"bench: {name} FAILED: {failures[name]}", file=sys.stderr)
                best = float("inf")
                break
            best = min(best, time.perf_counter() - t0)
            # isolate queries from each other: drop persisted frames the
            # previous run left behind and let the JVM collect between
            # measurements (GC debt from query N otherwise lands in
            # N+1's wall clock — measured swings of 2-4 s over a
            # 64-query session)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        # min over repeats = steady-state cost: this VM has noisy
        # neighbors (identical runs minutes apart swing 2-4x on
        # individual queries), and min is the standard noise-robust
        # point estimate for a deterministic workload
        if name not in failures:
            timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "catalog_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration": calibration,
    }
    if failures:
        out["failures"] = failures
    print(json.dumps(out))
    # persist the FULL per-query timings as a committed artifact
    # (VERDICT r7 #6: the driver's tail capture truncates the line
    # above to ~2.3 KB — 65 of 173 queries — which is where every
    # bench-noise argument starts). Round number inferred from the
    # BENCH_r{N}.json files the driver has committed so far.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        import re as _re

        rounds = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := _re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        rnd = max(rounds, default=0) + 1
        with open(os.path.join(here, f"bench_full_r{rnd:02d}.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout: the stdout line stands
        print(f"bench: could not write bench_full: {exc}", file=sys.stderr)
    # Bounded per-query digest (VERDICT r11 #2): the full line above
    # overflows the driver's ~2.3 KB tail capture, so the automated
    # per-query comparison degraded to totals for two rounds. Print the
    # 20 slowest queries as their own compact JSON line — ~0.8 KB, so
    # digest + summary always fit inside the tail window together.
    # Additions-only: the full line and the ledger file are unchanged,
    # and the compact summary stays LAST (the driver parses the tail's
    # final JSON object).
    top20 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    digest = {
        "metric": "catalog_top",
        "unit": "sec",
        "n": len(timings),
        "top": top20,
        "sf": sf,
    }
    print(json.dumps(digest))
    # The driver only records the FINAL ~2 KB of stdout; at 117+ queries the
    # full line above overflows that window and BENCH_r{N}.json gets
    # "parsed": null. Emit a compact summary as the very last line so the
    # harness always has one parseable JSON object in its tail capture.
    summary = {
        "metric": "catalog_total",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "failures": len(failures),
        "sf": sf,
        "calibration": calibration,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
