"""Web-Mercator (EPSG:3857) math: forward/inverse projection and tile bounds.

Replaces the reference's PROJ-based CRS transforms (src/main.rs:154-169,
src/geojson.rs:44-55, src/warp.rs:15-99) with the closed-form spherical
Web-Mercator formulas (the only target CRS the reference's tile grid uses):

    x = R * lon_rad
    y = R * ln(tan(pi/4 + lat_rad/2))

and tile bounds (src/main.rs:185, src/processor.rs:339-342 semantics):

    world extent = +/- pi * R = +/- 20037508.342789244 m
    tile span at zoom z = 2 * pi * R / 2^z

Both numpy kernels (for pandas UDFs) and Spark Column expressions
(JVM-side, codegen-friendly) are provided; plus the exact SQL-text twins used
by the DuckDB oracle so correctness is checked end-to-end.  The numpy tile
bounds the tests compare against live in ``tests/oracles.py``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

R = 6378137.0
ORIGIN = math.pi * R  # 20037508.342789244
WORLD = 2.0 * ORIGIN
# the latitude of the square Web-Mercator world's edge, atan(sinh(pi))
MAX_LAT = math.degrees(math.atan(math.sinh(math.pi)))  # 85.0511287798...


# ---------------------------------------------------------------------------
# numpy
# ---------------------------------------------------------------------------

def np_lonlat_to_merc(lon, lat) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = R * np.radians(lon)
    y = R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def np_merc_to_lonlat(x, y) -> tuple[np.ndarray, np.ndarray]:
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R)) - np.pi / 2.0)
    return lon, lat


def np_lonlat_to_tile(lon, lat, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """XYZ tile indices (y grows southward) at ``zoom`` for lon/lat degrees.

    Matches the slippy-map standard: tx = floor(2^z * (lon+180)/360),
    ty = floor(2^z * (1 - asinh(tan(lat))/pi) / 2); clamped to [0, 2^z-1].
    """
    n = np.int64(1) << zoom
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    tx = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_r = np.radians(lat)
    ty = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n).astype(np.int64)
    return np.clip(tx, 0, n - 1), np.clip(ty, 0, n - 1)


# ---------------------------------------------------------------------------
# Spark Columns
# ---------------------------------------------------------------------------

def _c(v) -> Column:
    return v if isinstance(v, Column) else F.col(v)


def zoom_n(zoom) -> Column:
    """2^zoom as a long Column (exact for zoom <= 29)."""
    if isinstance(zoom, int):
        return F.lit(1 << zoom).cast("long")
    return F.pow(F.lit(2.0), _c(zoom).cast("double")).cast("long")


def clamp_lat(lat) -> Column:
    """Latitude clamped to the tile grid's +-MAX_LAT: the Mercator formula
    at a pole is log(0), which Spark returns as NULL.  ``least`` and
    ``greatest`` skip NULLs, so a NULL clamps to an edge: callers test for
    NULL first."""
    return F.greatest(F.lit(-MAX_LAT), F.least(_c(lat), F.lit(MAX_LAT)))


def frac_x(lon: Column, n) -> Column:
    """Fractional tile column: the tile is its floor, the pixel its
    fraction (``n`` = 2^zoom)."""
    return (lon + 180.0) / 360.0 * n


def frac_y(lat: Column, n) -> Column:
    """Fractional tile row (southward), from asinh(tan(lat))."""
    t = F.tan(F.radians(clamp_lat(lat)))
    return (1.0 - F.log(t + F.sqrt(t * t + 1.0)) / F.lit(math.pi)) / 2.0 * n


def tile_of(frac: Column, n: Column) -> Column:
    """The tile holding a fractional tile coordinate, clamped to [0, n-1]."""
    return F.greatest(F.lit(0).cast("long"), F.least(F.floor(frac), n - 1))


def _tile_x(lon: Column, n: Column) -> Column:
    return tile_of(frac_x(lon, n), n)


def _tile_y(lat: Column, n: Column) -> Column:
    return tile_of(frac_y(lat, n), n)


def tile_x(lon, zoom) -> Column:
    """XYZ tile column from lon degrees; JVM-side, clamped to [0, 2^z-1];
    NULL for a NULL lon."""
    lon = _c(lon)
    return F.when(lon.isNotNull(), _tile_x(lon, zoom_n(zoom)))


def tile_y(lat, zoom) -> Column:
    """XYZ tile row (southward) from lat degrees; uses asinh(tan(lat));
    NULL for a NULL lat."""
    lat = _c(lat)
    return F.when(lat.isNotNull(), _tile_y(lat, zoom_n(zoom)))


def located_tiles(lon, lat, zoom) -> tuple[Column, Column]:
    """(tile_x, tile_y) for rows the caller has already filtered to
    non-NULL coordinates.  With no NULL test the columns are never NULL, so
    a join on them infers no isnotnull filter, which would repeat the tile
    math below the projection that computes them."""
    n = zoom_n(zoom)
    return _tile_x(_c(lon), n), _tile_y(_c(lat), n)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL twins (text templates; {lon}/{lat}/{z} substituted)
# ---------------------------------------------------------------------------

_LAT_SQL = f"greatest({-MAX_LAT:.17e}, least({{lat}}, {MAX_LAT:.17e}))"
TILE_X_SQL = (
    "CASE WHEN ({lon}) IS NOT NULL THEN"
    " greatest(0, least(CAST(floor((({lon}) + 180.0) / 360.0 * (1::BIGINT << {z})) AS BIGINT),"
    " (1::BIGINT << {z}) - 1)) END"
)
TILE_Y_SQL = (
    "CASE WHEN ({lat}) IS NOT NULL THEN"
    f" greatest(0, least(CAST(floor((1.0 - ln(tan(radians({_LAT_SQL})) +"
    f" sqrt(tan(radians({_LAT_SQL})) * tan(radians({_LAT_SQL})) + 1.0)) / pi()) / 2.0"
    " * (1::BIGINT << {z})) AS BIGINT), (1::BIGINT << {z}) - 1)) END"
)
