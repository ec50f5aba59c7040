"""Set-like operators (SURVEY §2.8, U1-U4)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tagged_union(dfs: dict[str, DataFrame], source_col: str = "source") -> DataFrame:
    """U1 — multi-source union with provenance tag (multi-satellite merge,
    odin_goesr/src/actor.rs:118-152). unionByName tolerates column order
    drift between per-source pipelines."""
    out = None
    for name, df in dfs.items():
        tagged = df.withColumn(source_col, F.lit(name))
        out = tagged if out is None else out.unionByName(tagged, allowMissingColumns=True)
    return out
