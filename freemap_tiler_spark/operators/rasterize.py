"""Raster <-> vector conversion (R-RAST / R-VECT, SURVEY.md §2.11).

- **Vector -> raster**: rasterize a polygon layer into per-tile u8 masks at
  a zoom — the distributed analogue of the reference's external
  `gdal_rasterize` alpha-mask workflow (reference README.md:131-145) and of
  its alpha-gated sector copy (src/processor.rs:463-488).  Covering cells
  via the P1 generator, then a vectorized scanline (pixel-center even-odd
  ray-cast) per tile inside applyInPandas.

- **Raster -> vector**: explode tile payloads back to per-pixel records
  (child-cell points with values) or fold them to per-tile stats — the
  inverse of the megatile slice (src/processor.rs:453-490).

"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.operators.pip_join import (
    points_in_polygon,
    polygon_covering_cells,
    polygon_rings,
)


def rasterize_polygons(
    polygons: DataFrame, zoom: int, tile_size: int = 256
) -> DataFrame:
    """(poly_id, ring_idx, xs, ys, tag) -> (poly_id, cell, mask binary).

    mask = tile_size^2 u8 plane, 255 inside the polygon else 0, sampled at
    pixel centers in lon/lat space.  Empty masks are dropped (the empty-tile
    elision P5, src/processor.rs:594-601)."""
    cover = polygon_covering_cells(polygons, zoom)
    work = cover.join(polygon_rings(polygons), "poly_id")
    t = tile_size

    def _fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pids, ccs, masks = [], [], []
            for row in pdf.itertuples(index=False):
                if row.interior:
                    # quadtree-proven interior cell: full mask, no ray-cast
                    pids.append(row.poly_id)
                    ccs.append(row.cell)
                    masks.append(np.full((t, t), 255, np.uint8).tobytes())
                    continue
                z, x, y = cells.np_cell_zxy(np.array([row.cell]))
                n = float(1 << int(z[0]))
                # pixel-center lon/lat grid of this tile
                lon = (float(x[0]) + (np.arange(t) + 0.5) / t) / n * 360.0 - 180.0
                yy = (float(y[0]) + (np.arange(t) + 0.5) / t) / n
                lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yy))))
                glon, glat = np.meshgrid(lon, lat)
                rr = [
                    (np.asarray(a, float), np.asarray(b, float))
                    for a, b in zip(row.all_xs, row.all_ys)
                ]
                inside = points_in_polygon(glon.ravel(), glat.ravel(), rr)
                if not inside.any():
                    continue
                pids.append(row.poly_id)
                ccs.append(row.cell)
                masks.append((inside.reshape(t, t).astype(np.uint8) * 255).tobytes())
            yield pd.DataFrame({"poly_id": pids, "cell": ccs, "mask": masks})

    return work.mapInPandas(_fill, "poly_id long, cell long, mask binary")


def raster_to_points(tiles: DataFrame, tile_size: int = 256, bands: int = 2) -> DataFrame:
    """(cell, payload) -> one row per non-empty pixel:
    (cell, px, py, value) — band 0 of the pixels with alpha>0 (last band)
    only."""
    t, nb = tile_size, bands

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cs, pxs, pys, vals = [], [], [], []
            for c, p in zip(pdf["cell"], pdf["payload"]):
                img = np.frombuffer(p, np.uint8).reshape(t, t, nb)
                mask = img[:, :, -1] > 0
                ys, xs = np.nonzero(mask)
                cs.append(np.full(len(xs), c, np.int64))
                pxs.append(xs.astype(np.int64))
                pys.append(ys.astype(np.int64))
                vals.append(img[:, :, 0][mask].astype(np.int64))
            if cs:
                yield pd.DataFrame({
                    "cell": np.concatenate(cs), "px": np.concatenate(pxs),
                    "py": np.concatenate(pys), "value": np.concatenate(vals),
                })
            else:
                yield pd.DataFrame({"cell": [], "px": [], "py": [], "value": []}).astype("int64")

    return tiles.mapInPandas(_explode, "cell long, px long, py long, value long")


def raster_stats(tiles: DataFrame, tile_size: int = 256, bands: int = 2) -> DataFrame:
    """(cell, payload) -> per-tile stats (coverage + value moments):
    the raster->vector fold."""
    t, nb = tile_size, bands

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for c, p in zip(pdf["cell"], pdf["payload"]):
                img = np.frombuffer(p, np.uint8).reshape(t, t, nb).astype(np.float64)
                alpha = img[:, :, -1]
                cov = float((alpha > 0).mean())
                val = img[:, :, 0]
                rows.append((int(c), cov, float(val.sum()), float(val.max())))
            yield pd.DataFrame(rows, columns=["cell", "coverage", "value_sum", "value_max"])

    return tiles.mapInPandas(_stats, "cell long, coverage double, value_sum double, value_max double")
