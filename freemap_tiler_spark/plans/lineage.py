"""Resumable pyramid writes with per-level lineage commits.

The reference's resumability (--continue-file, src/args.rs:24-26;
per-tile SELECT probe src/processor.rs:136-224; empty markers
src/processor.rs:186-190) re-expressed as deterministic batch jobs +
a commit table — the Spark-native way (SURVEY.md §2.9):

- each zoom level is written to its own parquet directory
  ``{root}/tiles/zoom={z}/`` (idempotent overwrite);
- after a level lands, a row is appended to the ``_lineage`` table:
  (level, row_count, min_cell, max_cell — the tile-range watermark —
  wall seconds, status) — the "per-partition lineage (tile-range
  watermarks + row counts)" required by BASELINE.json north_star;
- resume = read ``_lineage``, find the deepest committed level, seed the
  compose loop from its parquet instead of recomputing (the reference
  re-probes every tile; here whole committed levels are skipped).  A level
  killed mid-write has no commit row, so resume rewrites it whole;
- the reference's per-tile resume probe itself is ``resume_anti_join``, a
  set-at-a-time **left anti-join** (J1, src/processor.rs:136-171 ->
  SURVEY.md §2.1 S5).

Also writes the MBTiles-equivalent ``metadata`` table (name/format/
minzoom/maxzoom/bounds, src/schema.rs:43-68) and ``limits`` (per-zoom
min/max x / tms_y JSON, src/main.rs:351-364).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans import fsutil

LINEAGE_SCHEMA = (
    "level int, partition int, row_count long, min_cell long, max_cell long, "
    "seconds double, status string"
)
METADATA_SCHEMA = "name string, value string"


def _lineage_dir(root: str) -> str:
    return os.path.join(root, "_lineage")


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    """The lineage table, read with its schema (no footer-inference job).
    A table from before per-partition rows reads ``partition`` as NULL, so
    it holds no committed level and the run rebuilds."""
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_dir(root))
    except AnalysisException:  # no lineage written yet
        return None


def committed_levels(spark: SparkSession, root: str) -> dict[int, int]:
    """{level: row_count} of the committed levels, from their summary rows
    (partition = -1)."""
    lin = read_lineage(spark, root)
    if lin is None:
        return {}
    return {
        r["level"]: r["row_count"]
        for r in lin.where(
            (F.col("status") == "committed") & (F.col("partition") == -1)
        ).select("level", "row_count").collect()
    }


def _commit_level(
    spark: SparkSession, root: str, level: int, df_written: DataFrame, seconds: float
) -> int:
    """Commit a written level: ONE job computes per-partition lineage rows
    (cell-range watermark + row count per parquet split — the north rule's
    per-partition checkpoint), the level summary (partition = -1) is folded
    driver-side from those few rows.  Returns the level row count."""
    parts = df_written.groupBy(F.spark_partition_id().alias("part")).agg(
        F.count("*").alias("n"), F.min("cell").alias("mn"), F.max("cell").alias("mx")
    ).collect()
    rows = [
        (level, int(p["part"]), p["n"], p["mn"], p["mx"], seconds, "committed")
        for p in parts
    ]
    total = sum(p["n"] for p in parts)
    rows.append((
        level, -1, total,
        min((p["mn"] for p in parts), default=None),
        max((p["mx"] for p in parts), default=None),
        seconds, "committed",
    ))
    fsutil.write_rows(spark, rows, LINEAGE_SCHEMA, _lineage_dir(root), "append")
    return total


def level_path(root: str, level: int) -> str:
    return os.path.join(root, "tiles", f"zoom={level}")


def read_level(spark: SparkSession, root: str, level: int) -> DataFrame:
    """One written level as (cell, payload).  The schema is given: without
    it, every read-back first runs a one-task footer-inference job."""
    return spark.read.schema(P.PAYLOAD_SCHEMA).parquet(level_path(root, level))


def _write_level(
    spark: SparkSession,
    root: str,
    level: int,
    lv_df: DataFrame,
    t0: float,
    on_level=None,
) -> int:
    """Write one level (an idempotent overwrite of its directory), hand it
    to ``on_level`` (see write_pyramid), then commit its lineage.  A level
    killed part-way has no summary row, so resume rewrites it whole."""
    lv_df.write.mode("overwrite").parquet(level_path(root, level))
    written = read_level(spark, root, level)
    if on_level is not None:
        on_level(level, written)
    return _commit_level(spark, root, level, written, time.time() - t0)


def write_pyramid(
    spark: SparkSession,
    leaves: DataFrame,
    root: str,
    max_zoom: int,
    min_zoom: int = 0,
    tile_size: int = 256,
    bands: int = 2,
    levels_per_shuffle: int = 3,
    resume: bool = True,
    on_level=None,
) -> dict:
    """Build + write the pyramid level group by level group, committing
    lineage after each; resume skips committed levels and rewrites a
    level killed mid-write from scratch (see _write_level).

    ``on_level(level, written)`` is the per-level sink: it gets each level
    this run writes, read back from its parquet, after the level lands and
    before its lineage commit.  A committed level therefore always has
    its sink output; skipped levels are not passed to it.

    ``resume=False`` drops the earlier lineage first, so a rebuild killed
    part-way resumes from its own commits, never from the earlier run's.

    Returns {level: row_count} for the run (committed-and-skipped levels
    report their recorded counts)."""
    if not resume:
        fsutil.fs_delete(spark, _lineage_dir(root))
    done = committed_levels(spark, root) if resume else {}
    # committed-and-skipped levels report their lineage counts; every level
    # written below overwrites its entry
    out: dict[int, int] = dict(done)

    # seed: the DEEPEST level of the contiguous committed prefix
    # [z, max_zoom] — resume restarts exactly there, never rewriting a
    # committed level (finer-grained than the reference's per-tile probe)
    if max_zoom in done:
        z = max_zoom
        while z - 1 >= min_zoom and (z - 1) in done:
            z -= 1
        current = read_level(spark, root, z)
    else:
        z = max_zoom
        t0 = time.time()
        out[z] = _write_level(spark, root, max_zoom, leaves, t0, on_level)
        current = read_level(spark, root, max_zoom)

    while z > min_zoom:
        k = min(levels_per_shuffle, z - min_zoom)
        k = P.clamp_levels_per_shuffle(k, tile_size, bands)
        k = min(k, z - min_zoom)
        group = list(range(z - k, z))  # levels produced by this compose
        t0 = time.time()
        cache: list = []
        produced = P.compose_pyramid(
            current, z, z - k, tile_size, bands, levels_per_shuffle=k,
            round_cache=cache, approx_tiles=out.get(z),
        ).where(P.cells.cell_zoom("cell") < z)
        produced = produced.persist()
        for lv in sorted(group, reverse=True):
            lv_df = produced.where(P.cells.cell_zoom("cell") == lv)
            out[lv] = _write_level(spark, root, lv, lv_df, t0, on_level)
        produced.unpersist()
        for df in cache:
            df.unpersist()
        z -= k
        current = read_level(spark, root, z)
    return out


def read_pyramid(spark: SparkSession, root: str) -> DataFrame:
    """All committed levels as one DataFrame (cell, payload, zoom)."""
    return spark.read.schema(f"{P.PAYLOAD_SCHEMA}, zoom int").parquet(
        os.path.join(root, "tiles"))


def write_metadata(
    spark: SparkSession,
    root: str,
    tiles_with_keys: DataFrame,
    name: str = "pyramid",
    fmt: str = "png",
    min_zoom: int = 0,
    max_zoom: int = 14,
    bounds: tuple | None = None,
) -> None:
    """metadata + limits tables (src/schema.rs:43-68, src/main.rs:351-364)."""
    lim = P.limits(tiles_with_keys).collect()
    limits_json = json.dumps(
        {
            str(r["zoom"]): {
                "min_x": r["min_x"], "max_x": r["max_x"],
                "min_y": r["min_y"], "max_y": r["max_y"],
            }
            for r in lim
        },
        sort_keys=True,
    )
    rows = [
        ("name", name),
        ("format", fmt),
        ("minzoom", str(min_zoom)),
        ("maxzoom", str(max_zoom)),
        ("bounds", ",".join(str(b) for b in bounds) if bounds else ""),
        ("limits", limits_json),
    ]
    fsutil.write_rows(
        spark, rows, METADATA_SCHEMA,
        os.path.join(root, "metadata"), "overwrite",
    )


def resume_anti_join(pending: DataFrame, done_tiles: DataFrame) -> DataFrame:
    """The set-at-a-time resume probe (J1): pending \\ done, keyed by cell.
    Rows in done with empty payload are 'known-empty' markers and still
    count as done (src/processor.rs:186-190)."""
    return pending.join(done_tiles.select("cell"), "cell", "left_anti")
