#!/usr/bin/env python3
"""The sparkfire benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every `end_to_end` metric of BENCHMARK.json under `--trace 0` and
every `per_layer` metric under `--trace 1`. perfbench/METRICS.md defines
each metric per workload and says which layer should move which result.
All files the run writes stay under `.perfbench_work/` in the checkout;
inputs are cached there per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])  # field 22
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def warm(spark, n: int) -> None:
    """The Python-worker warm-up that setup_s includes: one pandas-UDF job
    over n partitions starts a worker per core and loads pandas/Arrow."""
    from pyspark.sql import functions as F

    ident = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 10_000, 1, n).select(F.sum(ident("id"))).collect()


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()


def main() -> int:
    age0, p0 = process_age_s(), perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "odin_rs_spark", "session.py")):
        print(f"perfbench: no odin_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every temp file of this process, the JVM and the workers inside
    # the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path[:0] = [HERE, ROOT]

    import inputs

    g0 = perf_counter()
    inp = inputs.prepare(
        os.path.join(WORK, "inputs"), args.workload, args.seed, args.seconds, bool(args.trace)
    )
    gen_s = perf_counter() - g0

    from odin_rs_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    n = len(os.sched_getaffinity(0))
    s0 = perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        s1 = perf_counter()
        tracer = Tracer(spark, enabled=bool(args.trace))
        with tracer.span("session.warm", phase="warm"):
            warm(spark, n)
        s2 = perf_counter()
        # from process start, less the benchmark's own input generation
        setup_s = s2 - (p0 - age0) - gen_s
        res = WORKLOADS[args.workload](
            spark, inp, os.path.join(run_dir, "work"), args.seconds, tracer
        )
        phase_exec = tracer.phase_exec() if args.trace else {}
        s3 = perf_counter()
    finally:
        stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"perfbench: {args.workload} seed={args.seed} inputs={gen_s:.2f}s "
        f"setup={setup_s:.2f}s workload={s3 - s2:.2f}s stop={perf_counter() - s3:.2f}s",
        file=sys.stderr,
    )

    if args.trace:
        measured = {
            "session.get_spark_s": s1 - s0,
            "session.warm_s": s2 - s1,
            **res["layers"],
            **phase_exec,
            "traced.primary_s": res["primary_s"],
            "traced.secondary_s": res["secondary_s"],
            "traced.cpu_s": res["cpu_s"],
            "trace.self_s": tracer.self_s,
        }
        declared = spec["per_layer"]
    else:
        measured = {k: res[k] for k in ("primary_s", "secondary_s", "cpu_s")}
        measured["setup_s"] = setup_s
        declared = spec["end_to_end"]
    names = {m["name"] for m in declared}
    extra = set(measured) - names
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    metrics = {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
