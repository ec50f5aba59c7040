"""Filters / projections / predicates (SURVEY §2.3, F1-F8).

All are plain Column predicates so Catalyst pushes them into the parquet
scan (check: `PushedFilters` in .explain). The reference hand-fuses the
same predicates into its raster row scan (odin_goesr/src/lib.rs:513-529);
here pushdown is automatic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mask_range(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """F1 — keep rows with col ∈ [lo, hi] (fire-pixel mask semantics,
    odin_goesr/src/lib.rs:513-524)."""
    return df.filter(F.col(col).between(lo, hi))


def recode(col: Column | str, mapping: dict, default=None) -> Column:
    """F2/F8 — value→label recode as a when() chain (pixel classes
    odin_goesr/src/lib.rs:96-107, Himawari enums odin_himawari/src/lib.rs:106-114).

    For large mappings prefer a broadcast lookup join; when() chains fold
    into codegen and are right for the reference's ≤dozens of codes.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for value, label in mapping.items():
        cond = c == F.lit(value)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit(default))
