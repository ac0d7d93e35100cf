"""GeoJSON polygon source (S4/F19/F10).

The reference parses the first Polygon of a Feature/FeatureCollection and
reprojects 4326 -> 3857 (src/geojson.rs:9-41,44-55); the polygon then prunes
the leaf tile set (src/main.rs:183-199).  Here: driver-side json parse of
the one polygon, returned as plain ring arrays; ``polygon_df`` turns them
into the one-polygon layer (operators.pip_join schema) that
``pipeline.prune_cover_by_polygon_layer`` prunes with.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from freemap_tiler_spark.functions.mercator import MAX_LAT, np_lonlat_to_merc
from freemap_tiler_spark.operators.pip_join import POLYGON_SCHEMA


def parse_geojson_polygon(src: str | dict) -> list[tuple[np.ndarray, np.ndarray]]:
    """First Polygon (outer ring + holes) of a GeoJSON Feature /
    FeatureCollection / bare geometry, as [(xs, ys), ...] lon/lat arrays.

    Mirrors the reference's 'first polygon wins' rule (src/geojson.rs:9-41);
    MultiPolygon contributes its first polygon."""
    obj = json.loads(open(src).read()) if isinstance(src, str) else src
    geom = obj
    if obj.get("type") == "FeatureCollection":
        geom = obj["features"][0]["geometry"]
    elif obj.get("type") == "Feature":
        geom = obj["geometry"]
    if geom["type"] == "MultiPolygon":
        rings = geom["coordinates"][0]
    elif geom["type"] == "Polygon":
        rings = geom["coordinates"]
    else:
        raise ValueError(f"expected (Multi)Polygon, got {geom['type']}")
    out = []
    for ring in rings:
        arr = np.asarray(ring, dtype=float)
        out.append((arr[:, 0].copy(), arr[:, 1].copy()))
    return out


def reproject_rings_3857(
    rings: list[tuple[np.ndarray, np.ndarray]],
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per-vertex 4326 -> 3857 (F10, src/geojson.rs:44-55), vectorized.
    Latitudes are clamped to +-MAX_LAT: a pole vertex would project to
    +-inf (or a huge finite y), and the tile grid ends at +-MAX_LAT."""
    return [
        tuple(np_lonlat_to_merc(xs, np.clip(ys, -MAX_LAT, MAX_LAT)))
        for xs, ys in rings
    ]


def polygon_df(
    spark: SparkSession,
    rings: list[tuple[np.ndarray, np.ndarray]],
) -> DataFrame:
    """Rings -> the engine's one-polygon layer DataFrame (pip_join schema):
    poly_id 1, tag 'boundary'."""
    rows = [
        (1, i, [float(v) for v in xs], [float(v) for v in ys], "boundary")
        for i, (xs, ys) in enumerate(rings)
    ]
    return spark.createDataFrame(rows, POLYGON_SCHEMA)
