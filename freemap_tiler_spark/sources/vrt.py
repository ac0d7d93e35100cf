"""GDAL VRT mosaic ingestion — the reference's ACTUAL --source-file.

The reference README's production workflow never opens a lone GeoTIFF:
it builds `gdalbuildvrt -a_srs EPSG:8353 vychod.vrt vychod-extracted/
*.tif`, optionally splices in a mosaic-wide Alpha band from a mask TIFF,
and tiles THAT (README.md:85-168).  This module reads the same XML
(stdlib ElementTree; the VRT format is GDAL's public schema) into the
engine's blocks table:

- every source file becomes one unit of parallelism (the natural
  100-TB fan-out: a national orthophoto VRT lists tens of thousands of
  tifs); files are read executor-side by PATH, the same shared-
  filesystem contract GDAL's own VRT driver has;
- georeferencing comes from the VRT grid (GeoTransform + each source's
  DstRect offset), NOT the member files' geo tags — gdalbuildvrt
  sources often carry none;
- an Alpha-band source covering the mosaic (the reference's mask
  pattern, README.md:150-163) is composed per block by WINDOWED reads:
  ``geotiff.read_region`` decodes only the mask tiles under each RGB
  block, so a 775k-pixel-wide mask contributes a handful of tile
  decodes per task instead of a broadcast of the file.

Supported: SimpleSource/ComplexSource with SrcRect size == DstRect size
(no VRT-level resampling — gdalbuildvrt emits exactly this), bands 1..n
as consecutive per-file sources plus at most one mosaic-wide Alpha
band.  SRS accepted as "EPSG:n", a +proj pipeline string, or WKT with
an EPSG AUTHORITY.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from freemap_tiler_spark.sources import geotiff as GT


class VrtError(ValueError):
    pass


def _parse_rect(el) -> tuple[int, int, int, int]:
    return (int(float(el.get("xOff"))), int(float(el.get("yOff"))),
            int(float(el.get("xSize"))), int(float(el.get("ySize"))))


def _parse_srs(text: str | None) -> str:
    if not text:
        return "EPSG:3857"
    t = text.strip()
    if t.upper().startswith("EPSG:") or t.startswith("+"):
        return t
    # WKT: the LAST top-level AUTHORITY names the CRS itself
    import re

    m = re.findall(r'AUTHORITY\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]', t)
    if m:
        return f"EPSG:{m[-1]}"
    raise VrtError(f"cannot determine EPSG code from SRS: {t[:80]!r}")


def parse_vrt(path: str) -> dict:
    """VRT XML -> {gt, crs, width, height, files: [...], alpha: ...}.

    ``files``: one entry per mosaic member — {path, dst: (x,y,w,h),
    bands: [source band numbers in VRT band order]}.  ``alpha``: the
    mosaic-wide mask source or None."""
    root = ET.parse(path).getroot()
    if root.tag != "VRTDataset":
        raise VrtError(f"not a VRTDataset: {root.tag}")
    W = int(root.get("rasterXSize"))
    H = int(root.get("rasterYSize"))
    gt_el = root.find("GeoTransform")
    if gt_el is None:
        raise VrtError("VRT has no GeoTransform")
    g = [float(v) for v in gt_el.text.split(",")]
    # GDAL order: (origin_x, px_w, row_rot, origin_y, col_rot, px_h)
    gt = [g[0], g[1], g[2], g[3], g[4], g[5]]
    crs = _parse_srs(getattr(root.find("SRS"), "text", None))
    base = os.path.dirname(os.path.abspath(path))

    per_file: dict[tuple, dict] = {}
    alpha = None
    nodata: dict[int, int] = {}
    for band in root.findall("VRTRasterBand"):
        bno = int(band.get("band"))
        nd_el = band.find("NoDataValue")
        if nd_el is not None and nd_el.text and nd_el.text.strip():
            nodata[bno] = int(float(nd_el.text))
        interp = getattr(band.find("ColorInterp"), "text", "") or ""
        for src in list(band.findall("SimpleSource")) \
                + list(band.findall("ComplexSource")):
            fn_el = src.find("SourceFilename")
            fn = fn_el.text.strip()
            if fn_el.get("relativeToVRT") == "1":
                fn = os.path.join(base, fn)
            sb = int(getattr(src.find("SourceBand"), "text", "1") or 1)
            srect = _parse_rect(src.find("SrcRect"))
            drect = _parse_rect(src.find("DstRect"))
            if srect[2:] != drect[2:]:
                raise VrtError(
                    f"VRT-level resampling unsupported: SrcRect {srect} "
                    f"vs DstRect {drect} in {fn}"
                )
            if interp.strip().lower() == "alpha" and drect[2] == W \
                    and drect[3] == H:
                if alpha is not None:
                    raise VrtError("multiple mosaic-wide alpha sources")
                alpha = {"path": fn, "band": sb, "src": srect, "dst": drect}
                continue
            key = (fn, drect)
            ent = per_file.setdefault(
                key, {"path": fn, "dst": drect, "src": srect, "bands": []})
            if ent["src"] != srect:
                raise VrtError(f"inconsistent SrcRects for {fn}")
            ent["bands"].append((bno, sb))
    files = []
    band_sig = None
    for ent in per_file.values():
        ent["bands"].sort()
        vbands = [vb for vb, _ in ent["bands"]]
        if vbands != list(range(1, len(vbands) + 1)):
            raise VrtError(
                f"member {ent['path']} must source consecutive VRT bands "
                f"1..n, got {vbands}"
            )
        sig = [sb for _, sb in ent["bands"]]
        if band_sig is None:
            band_sig = sig
        elif sig != band_sig:
            raise VrtError("member files carry different band sets")
        files.append(ent)
    files.sort(key=lambda e: (e["dst"][1], e["dst"][0], e["path"]))
    return {"gt": gt, "crs": crs, "width": W, "height": H,
            "files": files, "alpha": alpha, "nodata": nodata}


_BLOCKS_SCHEMA = GT._BLOCKS_SCHEMA


def vrt_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Read a gdalbuildvrt mosaic (+ optional mosaic-wide mask band) into
    the blocks schema, one task per member file.  Without a mask band,
    1- and 3-band blocks gain an opaque alpha band."""
    meta = parse_vrt(path)
    gt, crs = meta["gt"], meta["crs"]
    alpha = meta["alpha"]
    nodata = meta["nodata"]  # {vrt_band -> value} from <NoDataValue>
    rows = [
        (e["path"], *e["dst"], *e["src"],
         [sb for _, sb in e["bands"]])
        for e in meta["files"]
    ]
    files_df = spark.createDataFrame(
        rows,
        "path string, dx int, dy int, dw int, dh int, "
        "sx int, sy int, sw int, sh int, sbands array<int>",
    ).repartition(max(len(rows), 1), "path")

    def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import mmap

        mask_buf = mask_meta = None
        mask_fh = None
        try:
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    with open(r.path, "rb") as fh:
                        buf = fh.read()
                    fm = GT.geotiff_meta(buf, require_geo=False)
                    if (fm["width"], fm["height"]) != (r.sw, r.sh) \
                            or (r.sx, r.sy) != (0, 0):
                        raise VrtError(
                            f"partial SrcRect unsupported: {r.path} is "
                            f"{fm['width']}x{fm['height']}, rect "
                            f"{(r.sx, r.sy, r.sw, r.sh)}"
                        )
                    # SourceBand mapping: identity passes through; anything
                    # else (e.g. a BGR-ordered member, or band 1 of a 3-band
                    # file) selects/reorders decoded channels
                    sbands = [int(b) for b in r.sbands]
                    if max(sbands) > fm["bands"]:
                        raise VrtError(
                            f"{r.path}: SourceBand {max(sbands)} beyond the "
                            f"file's {fm['bands']} bands"
                        )
                    remap = sbands != list(range(1, fm["bands"] + 1))
                    for blk in GT.split_blocks(
                        buf, ensure_alpha=False, override_gt=gt,
                        origin_px=(r.dx, r.dy), override_crs=crs, meta=fm,
                    ):
                        if remap:
                            a = np.frombuffer(blk["data"], np.uint8).reshape(
                                blk["height"], blk["width"], blk["bands"])
                            a = a[:, :, [b - 1 for b in sbands]]
                            blk["data"] = np.ascontiguousarray(a).tobytes()
                            blk["bands"] = len(sbands)
                            blk["nodata"] = [None] * len(sbands)
                        if alpha is not None:
                            if mask_buf is None:
                                # mmap, not read(): a mosaic-wide mask can be
                                # tens of GB — read_region then touches only
                                # the pages under the decoded tiles, so the
                                # per-task mask I/O stays proportional to the
                                # member file's extent
                                mask_fh = open(alpha["path"], "rb")
                                mask_buf = mmap.mmap(
                                    mask_fh.fileno(), 0,
                                    access=mmap.ACCESS_READ)
                                mask_meta = GT.geotiff_meta(
                                    mask_buf, require_geo=False)
                            # block's mosaic-pixel window -> mask source window
                            # (axis-aligned VRT grids only for the overlay)
                            if gt[2] != 0.0 or gt[4] != 0.0:
                                raise VrtError(
                                    "mask overlay needs an axis-aligned VRT grid"
                                )
                            bx = round((blk["geo_transform"][0] - gt[0]) / gt[1])
                            by = round((blk["geo_transform"][3] - gt[3]) / gt[5])
                            mx = bx - alpha["dst"][0] + alpha["src"][0]
                            my = by - alpha["dst"][1] + alpha["src"][1]
                            m = GT.read_region(
                                mask_buf, mx, my, blk["width"], blk["height"],
                                mask_meta,
                            )[:, :, alpha["band"] - 1:alpha["band"]]
                            a = np.frombuffer(blk["data"], np.uint8).reshape(
                                blk["height"], blk["width"], blk["bands"])
                            blk["data"] = np.ascontiguousarray(
                                np.concatenate([a, m], axis=2)).tobytes()
                            blk["bands"] += 1
                            blk["nodata"] = blk["nodata"] + [None]
                        elif blk["bands"] in (1, 3):
                            a = np.frombuffer(blk["data"], np.uint8).reshape(
                                blk["height"], blk["width"], blk["bands"])
                            op = np.full((blk["height"], blk["width"], 1), 255,
                                         np.uint8)
                            blk["data"] = np.ascontiguousarray(
                                np.concatenate([a, op], axis=2)).tobytes()
                            blk["bands"] += 1
                            blk["nodata"] = blk["nodata"] + [None]
                        if nodata:
                            blk["nodata"] = [
                                nodata.get(b + 1) for b in range(blk["bands"])
                            ]
                        out.append(blk)
                if out:
                    yield pd.DataFrame(out)
        finally:
            # an exception mid-batch (e.g. VrtError on a bad member)
            # must not leak the mosaic-wide mask fd/mmap in the
            # long-lived executor worker
            if mask_buf is not None:
                mask_buf.close()
            if mask_fh is not None:
                mask_fh.close()

    return files_df.mapInPandas(_split, _BLOCKS_SCHEMA)
