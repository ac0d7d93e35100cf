"""Explicit skew handling for hot cells (dense urban tiles).

AQE's skew-join split (enabled in session.py) handles most runtime skew;
this module adds the *explicit* salting strategy BASELINE.json names
("cell-prefix repartition-join with salting for skewed hot cells") for the
case AQE cannot split: a skewed ``groupBy`` aggregation, made two-phase
over (key, salt).

The salt is **deterministic** (a hash of the row, not rand()) so re-runs
and resume produce identical partitioning — required by the engine's
lineage/resume semantics (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key: str = "cell") -> DataFrame:
    """Two-phase skew-proof count: partial count per (key, salt), then
    final sum per key — map-side combine made explicit.  The salt (one of
    16) hashes every column, so it is deterministic for deterministic
    rows."""
    salt = F.pmod(F.xxhash64(F.concat_ws("\x00", *df.columns)), F.lit(16))
    salted = df.withColumn("salt", salt.cast("int"))
    partial = salted.groupBy(key, "salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("count"))
