"""The MBTiles-equivalent tile store (S6/S7 parity, Spark-native).

Reference schema (src/schema.rs:11-40): tiles(zoom_level, tile_column,
tile_row, tile_data[, tile_alpha]) with a unique key index, plus
metadata(name, value).  Here:

- ``tiles``: parquet partitioned by zoom, columns (zoom, x, tms_y,
  tile_data, tile_alpha) — tile_row IS the TMS-flipped y, exactly like the
  reference's inserter (src/tile_inserter.rs:54).  Key uniqueness holds by
  construction: each row comes from one groupBy(cell) group.
- one write per pyramid level: ``pipeline.run_tiler`` encodes each level
  as ``lineage.write_pyramid`` lands it (the reference encodes each tile as
  compose emits it, src/processor.rs:493-563) and ``write_tiles``
  overwrites only that level's ``zoom=<z>`` directory.  The level's files
  are the files of its pyramid parquet, re-encoded; there is no cross-zoom
  range shuffle.
- ``metadata`` + per-zoom ``limits`` (S7/S8) via plans.lineage.write_metadata.
- the reference's single-writer thread + bounded channel
  (src/tile_inserter.rs:15-69) disappears: Spark's committer parallelizes,
  backpressure is shuffle-native (SURVEY §4 X6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.operators import pyramid as P

# the columns write_tiles writes (zoom is the partition column); read-backs
# name them instead of running a footer-inference job
STORE_SCHEMA = "x long, tms_y long, tile_data binary, tile_alpha binary, zoom int"


def write_tiles(
    spark: SparkSession,
    levels: DataFrame,
    root: str,
    fmt: str = "png",
    quality: int = 85,
    tile_size: int = 256,
    bands: int = 2,
) -> str:
    """(cell, payload) levels -> encoded tiles in {root}/store/zoom=<z>.

    Encoding (F13-F17) happens in the same pass as the write, with no
    shuffle: one Spark job, and each tile is encoded once.  Only the zoom
    directories present in ``levels`` are overwritten (dynamic partition
    overwrite), so the pipeline writes one level at a time.
    """
    enc = P.encode_level(levels, fmt, quality, tile_size, bands)
    keyed = enc.select(
        cells.cell_zoom("cell").alias("zoom"),
        cells.cell_x("cell").alias("x"),
        cells.reversed_y(cells.cell_zoom("cell"), cells.cell_y("cell")).alias("tms_y"),
        "tile_data",
        "tile_alpha",
    )
    out = os.path.join(root, "store")
    keyed.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("zoom").parquet(out)
    return out


def append_empty_markers(spark: SparkSession, markers: DataFrame, root: str) -> None:
    """Append known-empty tiles (P5/X8, src/processor.rs:186-190,594-601) to
    the store as NULL tile_data rows — present (so resume skips them), but
    carrying no payload and never passing through the encoder."""
    keyed = markers.select(
        cells.cell_zoom("cell").alias("zoom"),
        cells.cell_x("cell").alias("x"),
        cells.reversed_y(cells.cell_zoom("cell"), cells.cell_y("cell")).alias("tms_y"),
        F.lit(None).cast("binary").alias("tile_data"),
        F.lit(None).cast("binary").alias("tile_alpha"),
    )
    keyed.write.mode("append").partitionBy("zoom").parquet(os.path.join(root, "store"))


def read_tiles(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.schema(STORE_SCHEMA).parquet(os.path.join(root, "store"))
