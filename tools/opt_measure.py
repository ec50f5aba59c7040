"""Round-11 optimization harness: time individual catalog queries with
the bench methodology (noop sink, min-of-N) and capture their
``explain("formatted")`` plans to ``plans/r11/<q>_{before,after}.txt``.

Usage:
    python tools/opt_measure.py time q78_jaccard_join q81_cluster_keepers
    python tools/opt_measure.py plan before q78_jaccard_join
    python tools/opt_measure.py plan after q78_jaccard_join

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), OPT_REPEAT (default 3).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from odin_rs_spark.plans.catalog import CATALOG
    from odin_rs_spark.session import get_spark, warm_workers

    mode = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="odin_rs_spark-opt")
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    if mode == "time":
        names = sys.argv[2:]
        repeat = int(os.environ.get("OPT_REPEAT", "3"))
        out: dict[str, float] = {}
        for name in names:
            spec = CATALOG[name]
            best = float("inf")
            for _ in range(repeat):
                spark.sparkContext.setJobDescription(f"opt:{name}")
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            out[name] = round(best, 3)
            print(f"TIMED {name} {best:.3f}s", flush=True)
        print(json.dumps(out))
    elif mode == "plan":
        phase = sys.argv[2]  # before | after
        names = sys.argv[3:]
        plan_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            os.environ.get("OPT_PLAN_DIR", "r12"),
        )
        os.makedirs(plan_dir, exist_ok=True)
        for name in names:
            spec = CATALOG[name]
            df = spec.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plan_dir, f"{name}_{phase}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"PLAN {path} ({len(buf.getvalue())} bytes)", flush=True)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
