"""GDAL VRT mosaic ingestion — the reference README's actual input form
(gdalbuildvrt mosaic + optional mosaic-wide Alpha mask band, tiled with
--source-srs EPSG:8353 and a Krovak pipeline, README.md:85-168).

Anchors: pixel-exact mosaic reassembly from plain (geo-tag-free) member
tifs, the mask band composed via WINDOWED mask reads, byte-identical
run_tiler parity against a single pre-composed RGBA GeoTIFF, and a
miniature of the full Slovak workflow: VRT + mask + EPSG:8353 through
the tiler."""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.sources import geotiff, vrt
from freemap_tiler_spark.sources.raster_blocks import block_pixels

pytestmark = pytest.mark.spark

GT = [1_870_000.0, 100.0, 0.0, 6_280_000.0, 0.0, -100.0]


def _law_rgb():
    img = np.zeros((128, 128, 4), np.uint8)
    for by in range(2):
        for bx in range(2):
            img[by*64:(by+1)*64, bx*64:(bx+1)*64] = block_pixels(bx, by, 64, 64, 4)
    return img[:, :, :3]


def _mask():
    yy, xx = np.mgrid[0:128, 0:128]
    return (((xx // 16 + yy // 16) % 2) * 255).astype(np.uint8)


def _write_vrt(tmp, srs="EPSG:3857", with_mask=True, gt=GT):
    """Two geo-tag-FREE member tifs (left/right halves) + a mask tif,
    stitched by hand-written gdalbuildvrt-shaped XML."""
    img = _law_rgb()
    geotiff.write_geotiff(os.path.join(tmp, "left.tif"), img[:, :64], None,
                          tile=(64, 64), compression="deflate", predictor=2)
    geotiff.write_geotiff(os.path.join(tmp, "right.tif"), img[:, 64:], None,
                          rows_per_strip=32, compression="lzw")
    geotiff.write_geotiff(os.path.join(tmp, "mask.tif"), _mask(), None,
                          tile=(64, 64), compression="deflate")

    def band(b):
        srcs = "".join(f"""
    <SimpleSource>
      <SourceFilename relativeToVRT="1">{fn}</SourceFilename>
      <SourceBand>{b}</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="64" ySize="128" />
      <DstRect xOff="{dx}" yOff="0" xSize="64" ySize="128" />
    </SimpleSource>""" for fn, dx in [("left.tif", 0), ("right.tif", 64)])
        return f"""  <VRTRasterBand dataType="Byte" band="{b}">{srcs}
  </VRTRasterBand>"""

    mask_band = """  <VRTRasterBand dataType="Byte" band="4">
    <ColorInterp>Alpha</ColorInterp>
    <SimpleSource>
      <SourceFilename relativeToVRT="1">mask.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="128" ySize="128" />
      <DstRect xOff="0" yOff="0" xSize="128" ySize="128" />
    </SimpleSource>
  </VRTRasterBand>""" if with_mask else ""
    xml = f"""<VRTDataset rasterXSize="128" rasterYSize="128">
  <SRS>{srs}</SRS>
  <GeoTransform>{", ".join(str(v) for v in gt)}</GeoTransform>
{band(1)}
{band(2)}
{band(3)}
{mask_band}
</VRTDataset>"""
    path = os.path.join(tmp, "mosaic.vrt")
    with open(path, "w") as fh:
        fh.write(xml)
    return path


def _reassemble(rows, gt, bands):
    img = np.zeros((128, 128, bands), np.uint8)
    for r in rows:
        px0 = round((r.geo_transform[0] - gt[0]) / gt[1])
        py0 = round((r.geo_transform[3] - gt[3]) / gt[5])
        a = np.frombuffer(bytes(r.data), np.uint8).reshape(
            r.height, r.width, r.bands)
        img[py0:py0 + r.height, px0:px0 + r.width] = a
    return img


def test_vrt_mosaic_with_mask_band(spark):
    tmp = tempfile.mkdtemp(prefix="vrt_")
    try:
        path = _write_vrt(tmp)
        rows = vrt.vrt_blocks(spark, path).collect()
        assert all(r.crs == "EPSG:3857" and r.bands == 4 for r in rows)
        got = _reassemble(rows, GT, 4)
        assert np.array_equal(got[:, :, :3], _law_rgb())
        assert np.array_equal(got[:, :, 3], _mask())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_vrt_nodata_values_carry_into_blocks(spark):
    """gdalbuildvrt emits <NoDataValue> per band when sources declare
    nodata; the value must land in the blocks schema's nodata column so
    mask_nodata (P3) applies downstream."""
    tmp = tempfile.mkdtemp(prefix="vrt_nd_")
    try:
        path = _write_vrt(tmp, with_mask=False)
        xml = open(path).read()
        xml = xml.replace(
            '<VRTRasterBand dataType="Byte" band="1">',
            '<VRTRasterBand dataType="Byte" band="1">'
            "<NoDataValue>0</NoDataValue>", 1)
        xml = xml.replace(
            '<VRTRasterBand dataType="Byte" band="3">',
            '<VRTRasterBand dataType="Byte" band="3">'
            "<NoDataValue>17</NoDataValue>", 1)
        with open(path, "w") as fh:
            fh.write(xml)
        r = vrt.vrt_blocks(spark, path).first()
        assert list(r.nodata) == [0, None, 17, None]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_vrt_without_mask_gets_opaque_alpha(spark):
    tmp = tempfile.mkdtemp(prefix="vrt_")
    try:
        path = _write_vrt(tmp, with_mask=False)
        rows = vrt.vrt_blocks(spark, path).collect()
        got = _reassemble(rows, GT, 4)
        assert np.array_equal(got[:, :, :3], _law_rgb())
        assert (got[:, :, 3] == 255).all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_vrt_run_tiler_matches_precomposed_geotiff(spark):
    """Full parity: tiling the VRT (2 plain tifs + mask) must produce a
    store BYTE-IDENTICAL to tiling one pre-composed RGBA GeoTIFF carrying
    the same pixels."""
    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import store

    tmp = tempfile.mkdtemp(prefix="vrt_e2e_")
    roots = [tempfile.mkdtemp(prefix="vrt_store_") for _ in range(2)]
    try:
        vrt_path = _write_vrt(tmp)
        composed = np.concatenate([_law_rgb(), _mask()[:, :, None]], axis=2)
        tif = os.path.join(tmp, "composed.tif")
        geotiff.write_geotiff(tif, composed, GT, epsg=3857, tile=(64, 64))
        sources = [vrt.vrt_blocks(spark, vrt_path),
                   geotiff.geotiff_blocks(spark, tif)]
        for blocks, root in zip(sources, roots):
            run_tiler(spark, blocks, root, max_zoom=9, min_zoom=8,
                      tile_size=32, fmt="png", resume=False)
        reads = [
            {(r.zoom, r.x, r.tms_y): bytes(r.tile_data)
             for r in store.read_tiles(spark, root)
             .where("tile_data is not null").collect()}
            for root in roots
        ]
        assert reads[0].keys() == reads[1].keys() and len(reads[0]) > 0
        assert all(reads[0][k] == reads[1][k] for k in reads[0])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


def test_mini_vychod_workflow_epsg8353(spark):
    """A miniature of the reference README's production run: a VRT mosaic
    with an alpha mask declared in S-JTSK [JTSK03] (EPSG:8353, Krovak
    East North — negative coordinates over Slovakia) drives run_tiler
    through the Krovak + Helmert datum chain; the produced tile keys must
    sit exactly under the source's reprojected WebMercator bbox."""
    from freemap_tiler_spark.functions import crs as C
    from freemap_tiler_spark.functions import mercator as M
    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import store

    # 128x128 px at 100 m over central Slovakia, in Krovak EN meters
    kr = C._Krovak()
    import math
    kx, ky = kr.fwd(np.array([math.radians(19.1)]),
                    np.array([math.radians(48.7)]))
    gt = [float(kx[0]), 100.0, 0.0, float(ky[0]), 0.0, -100.0]
    tmp = tempfile.mkdtemp(prefix="vrt_sk_")
    root = tempfile.mkdtemp(prefix="vrt_sk_store_")
    try:
        path = _write_vrt(tmp, srs="EPSG:8353", gt=gt)
        blocks = vrt.vrt_blocks(spark, path)
        assert blocks.first().crs == "EPSG:8353"
        run_tiler(spark, blocks, root, max_zoom=9, min_zoom=9,
                  tile_size=32, fmt="png", resume=False)
        tiles = store.read_tiles(spark, root).where(
            "tile_data is not null").collect()
        assert tiles
        to_merc, _ = C.lookup_crs("EPSG:8353")
        bx0, by0, bx1, by1 = C.densified_merc_bbox(
            to_merc, gt[0], gt[3] + 128 * gt[5], gt[0] + 128 * gt[1], gt[3])
        span = M.WORLD / (1 << 9)
        for r in tiles:
            x0 = r.x * span - M.ORIGIN
            y1 = M.ORIGIN - (511 - r.tms_y) * span  # tms -> xyz row top
            assert x0 < bx1 + span and x0 + span > bx0 - span
            assert y1 - span < by1 + span and y1 > by0 - span
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_vrt_source_band_remapping(spark):
    """A member stored BGR whose VRT bands remap to RGB must come back
    in VRT band order; a SourceBand beyond the file's band count must
    raise rather than emit wrong pixels."""
    img = _law_rgb()
    tmp = tempfile.mkdtemp(prefix="vrt_remap_")
    try:
        geotiff.write_geotiff(os.path.join(tmp, "bgr.tif"),
                              img[:, :, ::-1], None, tile=(64, 64))

        def band(b, sb):
            return f"""  <VRTRasterBand dataType="Byte" band="{b}">
    <SimpleSource>
      <SourceFilename relativeToVRT="1">bgr.tif</SourceFilename>
      <SourceBand>{sb}</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="128" ySize="128" />
      <DstRect xOff="0" yOff="0" xSize="128" ySize="128" />
    </SimpleSource>
  </VRTRasterBand>"""

        gt_txt = ", ".join(str(v) for v in GT)
        xml = (f'<VRTDataset rasterXSize="128" rasterYSize="128">\n'
               f"  <SRS>EPSG:3857</SRS>\n"
               f"  <GeoTransform>{gt_txt}</GeoTransform>\n"
               + band(1, 3) + "\n" + band(2, 2) + "\n" + band(3, 1)
               + "\n</VRTDataset>")
        p = os.path.join(tmp, "remap.vrt")
        open(p, "w").write(xml)
        rows = vrt.vrt_blocks(spark, p).collect()
        got = _reassemble(rows, GT, 4)
        assert np.array_equal(got[:, :, :3], img)  # BGR file -> RGB mosaic
        assert (got[:, :, 3] == 255).all()  # no mask band: opaque alpha

        bad = xml.replace("<SourceBand>2</SourceBand>",
                          "<SourceBand>9</SourceBand>")
        pb = os.path.join(tmp, "bad.vrt")
        open(pb, "w").write(bad)
        with pytest.raises(Exception, match="SourceBand 9"):
            vrt.vrt_blocks(spark, pb).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
