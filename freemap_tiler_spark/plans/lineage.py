"""Resumable pyramid writes with per-level lineage commits.

The reference's resumability (--continue-file, src/args.rs:24-26;
per-tile SELECT probe src/processor.rs:136-224; empty markers
src/processor.rs:186-190) re-expressed as deterministic batch jobs +
a commit table — the Spark-native way (SURVEY.md §2.9):

- each zoom level is written to its own parquet directory
  ``{root}/tiles/zoom={z}/`` (idempotent overwrite);
- after a level lands, ONE row is appended to the ``_lineage`` table:
  (level, row_count, min_cell, max_cell — the tile-range watermark —
  min/max x and TMS row — the level's limits — wall seconds, status).
  Every value comes from aggregates observed on the level's own write
  (``DataFrame.observe``), so the commit re-reads nothing and runs no
  Spark job of its own.  The per-file watermarks (row count and
  ``cell`` min/max per split) are the part files' own parquet footers,
  which Spark writes with every file;
- resume = read ``_lineage``, find the deepest committed level, seed the
  compose loop from its parquet instead of recomputing (the reference
  re-probes every tile; here whole committed levels are skipped).  A level
  killed mid-write has no commit row, so resume rewrites it whole;
- the reference's per-tile resume probe itself is ``resume_anti_join``, a
  set-at-a-time **left anti-join** (J1, src/processor.rs:136-171 ->
  SURVEY.md §2.1 S5).

Also writes the MBTiles-equivalent ``metadata`` table (name/format/
minzoom/maxzoom/bounds, src/schema.rs:43-68) and ``limits`` (per-zoom
min/max x / tms_y JSON, src/main.rs:351-364), folded from the commit
rows as the reference folds them while it inserts.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans import fsutil

LINEAGE_SCHEMA = (
    "level int, row_count long, min_cell long, max_cell long, "
    "min_x long, max_x long, min_y long, max_y long, seconds double, status string"
)
METADATA_SCHEMA = "name string, value string"
_LIMITS = ("min_x", "max_x", "min_y", "max_y")


def _lineage_dir(root: str) -> str:
    return os.path.join(root, "_lineage")


def committed_rows(spark: SparkSession, root: str) -> dict[int, dict]:
    """{level: its latest commit row}, read by the driver (no Spark job).
    A row from before the limit columns (a per-partition lineage) has
    NULL limits with rows behind them, so it commits nothing and the run
    rebuilds that level."""
    return {
        r["level"]: r
        for r in fsutil.read_rows(spark, _lineage_dir(root), LINEAGE_SCHEMA)
        if r["status"] == "committed"
        and (r["row_count"] == 0 or r["min_x"] is not None)
    }


def compact_lineage(spark: SparkSession, root: str) -> None:
    """Rewrite ``_lineage`` as one file holding each level's latest commit
    row, so a root that is updated again and again reads one file, not
    one per level per update."""
    # read_rows gives each row's values in LINEAGE_SCHEMA's column order
    rows = [tuple(r.values()) for r in committed_rows(spark, root).values()]
    fsutil.write_rows(spark, rows, LINEAGE_SCHEMA, _lineage_dir(root), "overwrite")


def committed_levels(spark: SparkSession, root: str) -> dict[int, int]:
    """{level: row_count} of the committed levels."""
    return {z: r["row_count"] for z, r in committed_rows(spark, root).items()}


def _observe(df: DataFrame, level: int) -> tuple[DataFrame, Observation]:
    """``df`` with its commit row's aggregates attached: they are computed
    by the action that runs it (the level's own write), in no extra job."""
    obs = Observation()
    c = F.col("cell")
    x = cells.cell_x(c)
    y = cells.reversed_y(F.lit(level), cells.cell_y(c))  # the TMS row
    return df.observe(
        obs, F.count(F.lit(1)).alias("row_count"),
        F.min(c).alias("min_cell"), F.max(c).alias("max_cell"),
        F.min(x).alias("min_x"), F.max(x).alias("max_x"),
        F.min(y).alias("min_y"), F.max(y).alias("max_y"),
    ), obs


def _commit_level(
    spark: SparkSession, root: str, level: int, obs: Observation, seconds: float
) -> int:
    """Commit a written level: append its one lineage row, from the
    aggregates its write observed (row count, the cell-range watermark and
    the x / TMS-row limits).  Returns the level row count."""
    m = obs.get
    row = (level, m["row_count"], m["min_cell"], m["max_cell"],
           *(m[k] for k in _LIMITS), seconds, "committed")
    fsutil.write_rows(spark, [row], LINEAGE_SCHEMA, _lineage_dir(root), "append")
    return m["row_count"]


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
    to ``on_level`` (see write_pyramid), then commit its lineage from what
    the write observed.  A level killed part-way has no commit row, so
    resume rewrites it whole."""
    lv_df, obs = _observe(lv_df, level)
    lv_df.write.mode("overwrite").parquet(level_path(root, level))
    if on_level is not None:
        on_level(level, read_level(spark, root, level))
    return _commit_level(spark, root, level, obs, time.time() - t0)


def write_pyramid(
    spark: SparkSession,
    leaves: DataFrame,
    root: str,
    max_zoom: int,
    min_zoom: int = 0,
    tile_size: int = 256,
    bands: int = 2,
    resume: bool = True,
    on_level=None,
) -> dict:
    """Build + write the pyramid one compose round at a time, committing
    lineage after each level; resume skips committed levels and rewrites
    a level killed mid-write from scratch (see _write_level).

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
    z = max_zoom
    if z in done:
        while z - 1 >= min_zoom and (z - 1) in done:
            z -= 1
    else:
        out[z] = _write_level(spark, root, z, leaves, time.time(), on_level)

    # one compose round per pass: its depth comes from the exact row count
    # level z committed; a round of k > 1 levels is persisted, since each
    # of its levels is written from it
    min_groups = 4 * spark.sparkContext.defaultParallelism
    while z > min_zoom:
        k = P.round_depth(z - min_zoom, tile_size, bands, n=out[z],
                          min_groups=min_groups)
        t0 = time.time()
        produced = P.compose_round(read_level(spark, root, z), k, tile_size, bands)
        if k > 1:
            produced = produced.persist()
        for lv in range(z - 1, z - k - 1, -1):
            lv_df = produced.where(cells.cell_zoom("cell") == lv)
            out[lv] = _write_level(spark, root, lv, lv_df, t0, on_level)
        produced.unpersist()
        z -= k
    return out


def write_metadata(
    spark: SparkSession,
    root: str,
    limits: dict,
    name: str = "pyramid",
    fmt: str = "png",
    min_zoom: int = 0,
    max_zoom: int = 14,
    bounds: tuple | None = None,
) -> None:
    """metadata + limits tables (src/schema.rs:43-68, src/main.rs:351-364).
    ``limits`` maps each zoom to a row holding min_x, max_x, min_y, max_y
    (TMS rows), such as its commit row; a zoom whose limits are NULL (a
    level with no tiles) has no entry."""
    limits_json = json.dumps(
        {
            str(z): {k: r[k] for k in _LIMITS}
            for z, r in limits.items() if r["min_x"] is not None
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
