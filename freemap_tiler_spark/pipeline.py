"""The full reference-equivalent pipeline: one call == one freemap-tiler run.

Mirrors the reference CLI's lifecycle (src/main.rs try_main, SURVEY §3.1) —
every stage is the Spark-native counterpart, same order, same semantics:

    reference                                   here
    ---------                                   ----
    GDAL open + band validation                 one agg over blocks: the
    source bbox from geo-transform                raster_ops.layout_name check + bbox
    GeoJSON polygon parse + 4326->3857          sources.geojson
    leaf tile enumeration (bbox cover)          raster_ops.tile_cover
    polygon prune (rayon filter)                prune_cover_by_polygon_layer
                                                  (quadtree cell cover, semi-join)
    megatile warp + nodata + slice              raster_ops.mask_nodata + warp_blocks_to_tiles
    resume probe (per-tile SELECT)              lineage.write_pyramid (skips committed levels)
    pyramid compose (per-tile scheduler)        write_pyramid's rounds: pyramid.round_depth
                                                  + compose_round (k levels/shuffle)
    encode + single-writer insert               store.write_tiles, per level inside
                                                  write_pyramid (its on_level sink)
    limits fold + metadata                      lineage.write_metadata, from the
                                                  levels' commit rows (observed
                                                  on each level's write)
    stats thread                                plans.metrics.MetricsSink

Encode is fused into the level loop, as in the reference, which encodes
each tile as compose emits it (src/processor.rs:493-563): a level is
encoded into ``store/zoom=<z>`` right after its parquet lands and before
its lineage commit, so the pyramid is never re-read to encode.  The
``encode_write`` stage only re-encodes committed levels whose store
directory is missing and appends the ``insert_empty`` markers.

Args mirror the reference's CLI knobs (src/args.rs:13-70): max_zoom,
tile_size, format/quality, resampling, bounding polygon, continue-file ->
resume root.  The reference's warp-zoom-offset batching has no knob here:
``pyramid.round_depth`` derives each round's depth from the pixel budget
and the level's tile count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.functions.mercator import np_merc_to_lonlat
from freemap_tiler_spark.operators import raster_ops
from freemap_tiler_spark.operators.pip_join import polygon_covering_cells
from freemap_tiler_spark.plans import fsutil, store
from freemap_tiler_spark.plans import lineage as L
from freemap_tiler_spark.plans.metrics import MetricsSink
from freemap_tiler_spark.sources.geojson import parse_geojson_polygon, polygon_df
from freemap_tiler_spark.sources.raster_blocks import bbox_aggs, clamp_bbox


def prune_cover_by_polygon_layer(
    cover: DataFrame, polygons: DataFrame, zoom: int
) -> DataFrame:
    """J3/P2: keep the cover tiles whose bounds rectangle intersects a
    polygon of the layer (pip_join schema, rings in lon/lat), the
    reference's rect-intersects-polygon filter (src/main.rs:183-199).

    Each polygon explodes to exactly the ``zoom`` cells it intersects by
    the hierarchical quadtree cover, classified in EPSG:3857, the
    reference's Intersects space, where edges are straight in meters:
    a cell is kept iff its center is inside the polygon or a boundary
    segment meets the solid cell rectangle.  The cover then semi-joins
    that cell set: O(perimeter cells) rows per polygon and no driver
    collect, for a one-polygon GeoJSON bound and a layer alike."""
    # a cell covered by several polygons still keeps its tile once: a
    # semi-join emits each cover row at most once, so no distinct
    kept_cells = polygon_covering_cells(
        polygons.select("poly_id", "ring_idx", "xs", "ys"), zoom, space="merc")
    return cover.join(kept_cells, "cell", "left_semi")


def run_tiler(
    spark: SparkSession,
    blocks: DataFrame,
    root: str,
    max_zoom: int,
    min_zoom: int = 0,
    tile_size: int = 256,
    fmt: str = "png",
    quality: int = 85,
    polygon: str | dict | DataFrame | None = None,
    resume: bool = True,
    resampling: str = "bilinear",
    insert_empty: bool = False,
) -> dict:
    """blocks table -> tile store + metadata + lineage.  Returns per-level
    row counts.  The complete reference-equivalent run.

    ``polygon`` bounds the leaf tiles: a GeoJSON path or dict (its first
    polygon, as the reference reads it) or a polygon-layer DataFrame in
    the pip_join schema; both prune through prune_cover_by_polygon_layer.
    An unknown ``fmt`` or ``resampling`` raises ValueError before any
    Spark job."""
    if fmt not in ("png", "jpeg"):
        raise ValueError(f"fmt must be 'png' or 'jpeg', not {fmt!r}")
    if resampling not in ("nearest", "bilinear", "lanczos"):
        raise ValueError(
            f"resampling must be 'nearest', 'bilinear' or 'lanczos', not {resampling!r}")
    m = MetricsSink(spark, root)

    # ONE aggregate over `blocks` gives every scalar the stages need: the
    # band layout (layout_name's check) and the source bbox (at scale
    # `blocks` is the 100 TB input, so it is scanned once here and once by
    # the warp)
    scan = blocks.agg(F.collect_set("bands"), *bbox_aggs()).first()
    raster_ops.layout_name(scan[0])  # raises on a mixed or unsupported layout
    bands = scan[0][0]
    bbox = clamp_bbox(scan[1:])

    with m.stage("rasterize") as rasterize:
        masked = raster_ops.mask_nodata(blocks)
        leaves = raster_ops.warp_blocks_to_tiles(
            masked, max_zoom, tile_size, resampling
        )
        if polygon is not None:
            if not isinstance(polygon, DataFrame):
                polygon = polygon_df(spark, parse_geojson_polygon(polygon))
            cover = raster_ops.tile_cover(spark, bbox, max_zoom)
            kept = prune_cover_by_polygon_layer(cover, polygon, max_zoom)
            leaves = leaves.join(kept.select("cell"), "cell", "left_semi")

    encoded: set[int] = set()

    def encode(level: int, written: DataFrame) -> None:
        # looked up on the module at each call, so a wrapper installed on
        # store.write_tiles sees every level
        store.write_tiles(
            spark, written.where("length(payload) > 0"), root, fmt, quality,
            tile_size, bands,
        )
        encoded.add(level)

    with m.stage("compose") as h:
        # warp runs inside the first level write; each level is encoded
        # into the store as it lands, before its lineage commit
        counts = L.write_pyramid(
            spark, leaves, root, max_zoom, min_zoom, tile_size,
            bands=bands, resume=resume, on_level=encode,
        )
        h["rows"] = sum(counts.values())
    rasterize["rows"] = counts.get(max_zoom)

    with m.stage("encode_write") as h:
        # a level committed by an earlier run keeps its store directory;
        # re-encode it from its pyramid parquet only if that directory is
        # missing (a root written before per-level encode, or deleted)
        for z in sorted(set(counts) - encoded):
            if not fsutil.fs_exists(spark, os.path.join(root, "store", f"zoom={z}")):
                encode(z, L.read_level(spark, root, z))
        if insert_empty:
            # known-empty markers bypass the encode path entirely (they
            # have no pixels): appended to the store as NULL tile_data
            # rows so the resume anti-join can skip them next run
            # (src/processor.rs:186-190 semantics).  Cells the store
            # already holds at max_zoom (tiles, or an earlier run's
            # markers) are not appended again.
            cover = raster_ops.tile_cover(spark, bbox, max_zoom)
            zc = F.col("zoom")
            stored = store.read_tiles(spark, root).where(zc == max_zoom).select(
                cells.cell(zc, F.col("x"), cells.reversed_y(zc, F.col("tms_y")))
                .alias("cell")
            )
            markers = raster_ops.empty_markers(cover, stored)
            store.append_empty_markers(spark, markers, root)
        h["rows"] = sum(counts.values())

    with m.stage("metadata"):
        # the limits of every level of the run, from its commit row: those
        # this run wrote and those it skipped on resume (no Spark job)
        commits = L.committed_rows(spark, root)
        lon0, lat0 = np_merc_to_lonlat(bbox[0], bbox[1])
        lon1, lat1 = np_merc_to_lonlat(bbox[2], bbox[3])
        L.write_metadata(
            spark, root, {z: commits[z] for z in counts}, name="tiles",
            fmt=fmt, min_zoom=min_zoom, max_zoom=max_zoom,
            bounds=(float(lon0), float(lat0), float(lon1), float(lat1)),
        )
    m.flush()
    return counts
