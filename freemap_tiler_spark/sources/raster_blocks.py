"""Synthetic raster-blocks table — the engine's stand-in for a GDAL source.

The reference opens one GDAL dataset (src/main.rs:80) and warps windows of
it per megatile (src/processor.rs:327-451).  On Spark, a raster is a
DataFrame of fixed-size blocks (SURVEY.md §1.3): one row per block with the
pixel payload as a binary column plus affine georeferencing metadata.

Block pixel law (FIXTURES.md §2, closed form, deterministic):
    band k value at global pixel (x, y) = (x*3 + y*5 + k*17) % 256
    alpha = 255 except a checkerboard hole region (8x8 px squares) where 0.

Generated distributed: spark.range over block indices, payload synthesized
inside an Arrow-batched pandas UDF (numpy, no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from freemap_tiler_spark.functions.mercator import ORIGIN


def block_pixels(bx: int, by: int, width: int, height: int, bands: int) -> np.ndarray:
    """(H, W, bands) u8 for block (bx, by) under the closed-form law.

    uint8 arithmetic throughout: (x*3 + y*5 + k*17) % 256 distributes over
    uint8 wraparound, so the whole block is three small mod-256 vectors
    broadcast-added — the int64 form moved ~80x the bytes and made the
    synthetic SOURCE the bottleneck of the measured warp stage."""
    gx = np.arange(bx * width, (bx + 1) * width, dtype=np.int64)
    gy = np.arange(by * height, (by + 1) * height, dtype=np.int64)
    vx = ((gx * 3) % 256).astype(np.uint8)[None, :, None]
    vy = ((gy * 5) % 256).astype(np.uint8)[:, None, None]
    vk = ((np.arange(bands, dtype=np.int64) * 17) % 256).astype(np.uint8)
    arr = vx + vy + vk  # uint8 adds wrap mod 256
    # alpha band: opaque except checkerboard holes of 8x8 px
    hx = ((gx // 8) % 7).astype(np.uint8)[None, :]
    hy = ((gy // 8) % 7).astype(np.uint8)[:, None]
    hole = (hx + hy) % 7 == 0
    arr[:, :, -1] = np.where(hole, 0, 255)
    return arr


def raster_blocks(
    spark: SparkSession,
    grid: int = 4,
    width: int = 256,
    height: int = 256,
    bands: int = 4,
) -> DataFrame:
    """grid x grid EPSG:3857 blocks placed in the Slovakia-ish area.

    geo_transform is the standard 6-element affine [x0, px_w, 0, y0, 0,
    -px_h] (src/geo.rs:4-25 layout): pixel (c, r) of block (bx, by) sits at
    world (x0 + (bx*W + c)*px_w, y0 - (by*H + r)*px_h).
    """
    x0, y0 = 1_870_000.0, 6_280_000.0  # ~Slovakia in EPSG:3857
    px = 100.0  # meters/pixel
    # partitions scale PAST core count (4 waves' worth): a one-wave layout
    # (numPartitions == cores) makes the whole warp wall-clock equal its
    # slowest task — measured as NEGATIVE core-count scaling at local[32]
    par = spark.sparkContext.defaultParallelism
    idx = spark.range(0, grid * grid, numPartitions=min(grid * grid, max(32, par * 4)))

    @F.pandas_udf(BinaryType())
    def gen_block(bx: pd.Series, by: pd.Series) -> pd.Series:
        return pd.Series(
            [
                block_pixels(int(a), int(b), width, height, bands).tobytes()
                for a, b in zip(bx, by)
            ]
        )

    bx = (F.col("id") % grid).cast("int")
    by = (F.col("id") / grid).cast("int")
    return idx.select(
        bx.alias("block_x"),
        by.alias("block_y"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.lit(bands).alias("bands"),
        gen_block(bx, by).alias("data"),
        F.array(
            F.lit(x0), F.lit(px), F.lit(0.0), F.lit(y0), F.lit(0.0), F.lit(-px)
        ).alias("geo_transform"),
        F.lit("EPSG:3857").alias("crs"),
        F.array(*[F.lit(None).cast("int")] * bands).alias("nodata"),
    )


def source_bbox(df: DataFrame) -> tuple[float, float, float, float]:
    """Source bbox from block metadata (src/geo.rs:4-25 analogue): min/max
    over per-block corner coordinates, one tiny agg job."""
    return clamp_bbox(df.agg(*bbox_aggs()).first())


def bbox_aggs() -> list:
    """Aggregates (min x, min y, max x, max y) over per-block corners."""
    def gt(i):
        return F.element_at("geo_transform", i)

    bx, by, w, h = F.col("block_x"), F.col("block_y"), F.col("width"), F.col("height")
    return [
        F.min(gt(1) + bx * w * gt(2)),
        F.min(gt(4) + (by + 1) * h * gt(6)),
        F.max(gt(1) + (bx + 1) * w * gt(2)),
        F.max(gt(4) + by * h * gt(6)),
    ]


def clamp_bbox(corners) -> tuple[float, float, float, float]:
    """Clamp bbox_aggs' result to the world extent, like transform_bounds'
    densify does implicitly."""
    mn_x, mn_y, mx_x, mx_y = corners
    return (
        max(mn_x, -ORIGIN), max(mn_y, -ORIGIN), min(mx_x, ORIGIN), min(mx_y, ORIGIN)
    )
