"""Tile-pyramid construction: rasterize points -> recursive 2x2 compose.

The Spark-first restatement of the reference's core computation
(src/processor.rs:227-321 compose; src/main.rs:208-271 scheduling):

1. **Leaf rasterization** — points carry a global fractional pixel
   coordinate at max_zoom (pure Column math); ``groupBy(cell)`` +
   ``applyInPandas`` bins them into a tile payload (Gray+Alpha u8: value =
   clipped point count per pixel, alpha = 255 where any point).  This is
   the warp/megatile stage (§3.2) with the raster source generalized to a
   point corpus.

2. **Pyramid compose** — instead of one shuffle per zoom level (the naive
   translation of the reference's per-tile readiness scheduler,
   src/state.rs:30-49), one ``compose_round`` groups tiles by their zoom-k
   ancestor and one ``applyInPandas`` task composes the ENTIRE k-level
   subtree (mosaic 2x2 + Lanczos-3 downsample per level,
   src/processor.rs:254-309 semantics), so one shuffle advances k levels.
   ``round_depth`` is the one rule that picks k: the largest subtree
   within a per-group pixel budget, deepened for thin levels and shrunk
   where too few groups would leave cores idle — the engine's analogue of
   the reference's --warp-zoom-offset batching (src/args.rs:59-61),
   applied to shuffles instead of GDAL warps.  ``compose_pyramid`` chains
   rounds in memory; ``plans.lineage.write_pyramid`` writes and commits
   each round's levels before the next.

3. **Limits fold** — per-zoom min/max of x and TMS y
   (src/processor.rs:567-584, src/main.rs:351-364): one tiny groupBy.

Between levels everything stays (cell:long, payload:binary) — 16 bytes + one
tile buffer per row; shuffle volume per level is exactly the level's pixel
data (and level z holds 4x fewer tiles than z+1, so the loop's total shuffle
is < 4/3 of the leaf level — geometric decay).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from freemap_tiler_spark.functions import cells, mercator
from freemap_tiler_spark.functions.codecs import encode_tile
from freemap_tiler_spark.functions.resample import downsample2x, mosaic_children

PAYLOAD_SCHEMA = "cell long, payload binary"


def assign_cells(points: DataFrame, lon_col: str, lat_col: str, zoom: int) -> DataFrame:
    """Add (cell, fx, fy): leaf cell id + global fractional pixel coords.

    All JVM-side Column math — the Spark equivalent of the reference's
    tile-coverage enumeration (src/main.rs:173-181) driven from data."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    tx = mercator.tile_x(lon, F.lit(zoom))
    ty = mercator.tile_y(lat, F.lit(zoom))
    n = F.lit(float(1 << zoom))
    fx = (lon + 180.0) / 360.0 * n
    lat_r = F.radians(lat)
    t = F.tan(lat_r)
    fy = (1.0 - F.log(t + F.sqrt(t * t + 1.0)) / F.lit(math.pi)) / 2.0 * n
    return points.withColumn("cell", cells.cell(F.lit(zoom), tx, ty)).withColumn(
        "fx", fx
    ).withColumn("fy", fy)


def rasterize_level(points_with_cells: DataFrame, tile_size: int = 256) -> DataFrame:
    """(cell, fx, fy) points -> (cell, payload) leaf tiles.

    Two JVM-side aggregations, then ONE Arrow-batched scalar UDF:

      1. count per (cell, pixel)   — groupBy with map-side combine; the
         shuffle carries (cell, pix, count), not raw points;
      2. collect per cell          — (pix, count) pairs into one array row;
      3. scalar pandas UDF         — builds each tile's byte payload.

    Unlike a groupBy(cell).applyInPandas (one Arrow batch per TILE — group
    dispatch dominates for millions of small tiles), the scalar UDF packs
    ~2048 tiles per Arrow batch.  Shuffle volume is sparse (non-empty pixels
    only), independent of tile_size^2."""
    t = tile_size
    # global pixel index -> within-tile pixel: fx in [x, x+1) so
    # px = floor(fx * t) - x * t; clamp guards the fx==x+1 edge
    px = F.least(
        F.greatest(F.floor(F.col("fx") * t) - F.col("_tx") * t, F.lit(0)), F.lit(t - 1)
    )
    py = F.least(
        F.greatest(F.floor(F.col("fy") * t) - F.col("_ty") * t, F.lit(0)), F.lit(t - 1)
    )
    counted = (
        points_with_cells.withColumn("_tx", cells.cell_x("cell"))
        .withColumn("_ty", cells.cell_y("cell"))
        .select("cell", (py * t + px).alias("pix"))
        .groupBy("cell", "pix")
        .count()
    )
    # pack (pix, clipped count) into ONE long — an array<long> crosses
    # Arrow as a flat int64 buffer; an array<struct> would materialize a
    # Python dict PER PIXEL on the worker (measured 10x slower)
    packed = counted.groupBy("cell").agg(
        F.collect_list(
            F.col("pix") * 256 + F.least(F.col("count"), F.lit(255))
        ).alias("pixels")
    )

    @F.pandas_udf("binary")
    def _paint(pixels: pd.Series) -> pd.Series:
        out = []
        for pxs in pixels:
            packed_arr = np.asarray(pxs, dtype=np.int64)
            img = np.zeros((t * t, 2), dtype=np.uint8)
            img[packed_arr >> 8, 0] = (packed_arr & 0xFF).astype(np.uint8)
            img[packed_arr >> 8, 1] = 255
            out.append(img.tobytes())
        return pd.Series(out)

    return packed.select("cell", _paint("pixels").alias("payload"))


def _compose_subtree(
    tiles: dict[int, np.ndarray], levels: int, tile_size: int, bands: int
) -> dict[int, np.ndarray]:
    """Compose `levels` levels above the given tiles (all sharing one
    ancestor).  Returns every newly produced tile (all intermediate levels).
    Mosaic law and Lanczos downsample per src/processor.rs:254-309."""
    out: dict[int, np.ndarray] = {}
    current = tiles
    for _ in range(levels):
        groups: dict[int, dict[int, np.ndarray]] = {}
        for c, buf in current.items():
            p = int(cells.np_parent(np.array([c]))[0])
            groups.setdefault(p, {})[c & 3] = buf
        nxt: dict[int, np.ndarray] = {}
        for p, kids in groups.items():
            canvas = mosaic_children(kids, tile_size, bands)
            nxt[p] = downsample2x(canvas).reshape(-1)
        out.update(nxt)
        current = nxt
    return out


GROUP_PIXEL_BUDGET = 64 << 20  # bytes of child payload per compose group


def round_depth(levels: int, tile_size: int, bands: int, n: int | None = None,
                min_groups: int = 0, max_k: int | None = None,
                n_budget: int | None = None) -> int:
    """Levels one compose round advances, at most ``levels`` (and
    ``max_k``).  First the pixel-budget clamp: the largest k with 4^k *
    tile_size^2 * bands <= GROUP_PIXEL_BUDGET (SURVEY §7(5)), since a
    group holds its zoom-k subtree IN MEMORY in one task (unclamped k=5 at
    256px RGBA is 270MB per group).  Then, given the level's tile count
    ``n``, two corrections.  A thin level deepens: a group's real payload
    is bounded by the level's tile count (x2 for intermediates), not the
    4^k subtree, so a tail of tens of tiles composes down in ONE round
    instead of a ~1 s near-empty job per k levels.  An estimated count
    passes ``n_budget`` assuming only 2x decay per level (linear features
    — coastlines — shrink ~2x, not the area cover's 4x).  Then a round
    that would leave cores idle (n/4^k < ``min_groups`` groups) shrinks,
    but only while shrinking can restore parallelism: a level too small
    even at k=1 keeps the full k (fewest jobs)."""
    tile_bytes = tile_size * tile_size * bands
    k = max(1, levels if max_k is None else min(levels, max_k))
    while k > 1 and 4 ** k * tile_bytes > GROUP_PIXEL_BUDGET:
        k -= 1
    if n is None:
        return k
    n = max(n, 1)
    n_budget = n if n_budget is None else max(n_budget, 1)
    while (k < levels and
           min(4 ** (k + 1), 2 * n_budget) * tile_bytes <= GROUP_PIXEL_BUDGET):
        k += 1
    while k > 1 and n >> (2 * k) < min_groups <= n >> 2:
        k -= 1
    return k


def compose_round(current: DataFrame, k: int, tile_size: int, bands: int) -> DataFrame:
    """(cell, payload) tiles of one level -> the k levels above it, in one
    shuffle: tiles are grouped by their zoom-k ancestor and one
    ``applyInPandas`` task composes that ancestor's whole subtree."""
    def _compose(pdf: pd.DataFrame) -> pd.DataFrame:
        tiles = {int(c): np.frombuffer(p, dtype=np.uint8)
                 for c, p in zip(pdf["cell"], pdf["payload"])}
        produced = _compose_subtree(tiles, k, tile_size, bands)
        return pd.DataFrame({"cell": list(produced),
                             "payload": [v.tobytes() for v in produced.values()]})

    anc = cells.ancestor(F.col("cell"), k).alias("anc")
    return current.groupBy(anc).applyInPandas(_compose, PAYLOAD_SCHEMA)


def compose_pyramid(
    level_df: DataFrame,
    from_zoom: int,
    to_zoom: int = 0,
    tile_size: int = 256,
    bands: int = 2,
    levels_per_shuffle: int = 3,
    round_cache: list | None = None,
    approx_tiles: int | None = None,
) -> DataFrame:
    """(cell, payload) tiles at from_zoom -> union of ALL levels
    [to_zoom, from_zoom], in rounds of at most ``levels_per_shuffle``
    levels (``round_depth``).

    Each round's output but the last is persisted (it feeds both the union
    and the next round).  Pass ``round_cache`` (a list) to receive those
    DataFrames and unpersist them once the returned union is materialized
    — otherwise one cached copy per composed round leaks for the session
    lifetime.

    ``approx_tiles`` (tile count at ``from_zoom``, usually known from the
    caller's materializing count) arms ``round_depth``'s deepening and
    shrinking, with each level's count estimated as approx_tiles/4^dz
    (approx_tiles/2^dz for the pixel budget) and >= 4 groups per core."""
    min_groups = 0
    if approx_tiles is not None:
        min_groups = 4 * level_df.sparkSession.sparkContext.defaultParallelism
    all_levels = current = level_df
    z = from_zoom
    while z > to_zoom:
        n = n_budget = None
        if approx_tiles is not None:
            dz = from_zoom - z
            n, n_budget = approx_tiles >> (2 * dz), approx_tiles >> dz
        k = round_depth(z - to_zoom, tile_size, bands, n, min_groups,
                        levels_per_shuffle, n_budget)
        # persist per round: the output feeds BOTH the union and the next
        # round — without it Spark re-runs the (expensive) UDF stage once
        # per consumer, turning 3 rounds into ~6 executions.  The FINAL
        # round's output has only one consumer (the union), so its cache
        # build is pure overhead — skip it.
        produced = compose_round(current, k, tile_size, bands)
        if z - k > to_zoom:
            produced = produced.persist(StorageLevel.MEMORY_AND_DISK)
            # serialized: binary-payload rows cached deserialized are heap
            # object soup -> GC thrash
            if round_cache is not None:
                round_cache.append(produced)
        all_levels = all_levels.unionByName(produced)
        current = produced.where(cells.cell_zoom("cell") == z - k)
        z -= k
    return all_levels


def with_tile_keys(df: DataFrame) -> DataFrame:
    """Expand cell -> (zoom, x, y, tms_y) columns (JVM-side bit math).

    Drops pre-existing key columns first (a pyramid read back from the
    zoom-partitioned store already carries the zoom partition column)."""
    df = df.drop("zoom", "x", "y", "tms_y")
    return df.select(
        "*",
        cells.cell_zoom("cell").alias("zoom"),
        cells.cell_x("cell").alias("x"),
        cells.cell_y("cell").alias("y"),
    ).withColumn("tms_y", cells.reversed_y(F.col("zoom"), F.col("y")))


def encode_level(df: DataFrame, fmt: str = "png", quality: int = 85,
                 tile_size: int = 256, bands: int = 2) -> DataFrame:
    """(cell, payload) -> (cell, tile_data, tile_alpha) via mapInPandas
    (the encode stage, src/processor.rs:493-563)."""
    t = tile_size

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            datas, alphas = [], []
            for p in pdf["payload"]:
                img = np.frombuffer(p, dtype=np.uint8).reshape(t, t, bands)
                d, a = encode_tile(img, fmt, quality)
                datas.append(d)
                alphas.append(a)
            yield pd.DataFrame(
                {"cell": pdf["cell"], "tile_data": datas, "tile_alpha": alphas}
            )

    return df.mapInPandas(_encode, "cell long, tile_data binary, tile_alpha binary")


def limits(tiles_with_keys: DataFrame) -> DataFrame:
    """Per-zoom bounding rectangle of written tiles
    (src/processor.rs:567-584 fold as one groupBy)."""
    return tiles_with_keys.groupBy("zoom").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("tms_y").alias("min_y"),
        F.max("tms_y").alias("max_y"),
    )


def build_pyramid(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_zoom: int = 14,
    min_zoom: int = 0,
    tile_size: int = 256,
) -> DataFrame:
    """Full pipeline: points -> all pyramid levels as (cell, payload).

    The caller encodes/writes (see plans.lineage.write_pyramid for the
    resumable sink)."""
    assigned = assign_cells(points, lon_col, lat_col, max_zoom)
    leaves = rasterize_level(assigned, tile_size)
    return compose_pyramid(leaves, max_zoom, min_zoom, tile_size, 2)
