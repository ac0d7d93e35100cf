"""As-of join — the time-series operator the brief names among those
Spark's built-ins lack (kdb+ `aj`, Pandas `merge_asof`, DuckDB
`ASOF JOIN`): every left row picks up the LATEST right row with
``right.ts <= left.ts`` per key.

Spark-first shape (no range join, no per-key loop): tag the sides,
UNION them, and carry the right-side values forward with
``last(ignorenulls)`` over a (key, ts, side) window — one shuffle on
the key, then a single running-window pass.  At 100 TB this is exactly
a groupBy-shuffle plus a sort within partitions; there is no candidate
explosion and no driver involvement (the classic scalable as-of
pattern, equivalent to what Flink's temporal join compiles to).

Tie semantics match DuckDB/kdb: a right row AT the left row's timestamp
matches (<=, inclusive) because the right side orders before the left
at equal ``ts``.  Right rows must be unique per (key, ts) — ambiguous
duplicates have no canonical winner; dedupe upstream (the contract
query keeps the max id per (key, ts))."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """left columns + ``r_``-prefixed right_cols (+ ``r_`` + ts), NULL
    where no right row precedes the left row for that key."""
    carried = ["r_" + c for c in right_cols] + ["r_" + ts]
    clash = (set(carried) | {"_side"}) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: left columns {sorted(clash)} collide with carried "
            f"right columns / the _side sentinel; rename them"
        )
    r = right.select(
        F.col(key), F.col(ts),
        *[F.col(c).alias("r_" + c) for c in right_cols],
        F.col(ts).alias("r_" + ts),
        F.lit(0).alias("_side"),
    )
    l_cols = left.columns
    lt = left.select(
        *l_cols,
        *[F.lit(None).cast(r.schema[c].dataType).alias(c) for c in carried],
        F.lit(1).alias("_side"),
    )
    # align: right rows lack the left's payload columns
    rt = r.select(
        *[F.col(c) if c in (key, ts) else F.lit(None).cast(
            left.schema[c].dataType).alias(c) for c in l_cols],
        *carried, "_side",
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lt.unionByName(rt).select(
        *l_cols, "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    return filled.where(F.col("_side") == 1).drop("_side")
