"""GeoTIFF ingestion — the reference's real input path (src/main.rs:80
opens one GDAL dataset; this module is the Spark-native equivalent).

A GeoTIFF is already a blocked raster: the IFD declares a tile grid
(TileWidth/TileLength + TileOffsets/TileByteCounts) or a strip layout
(RowsPerStrip + StripOffsets/StripByteCounts).  Ingestion maps each
tile/strip to one row of the engine's blocks schema (see
``raster_blocks``): the file is read with Spark's ``binaryFile`` source
and split executor-side by a pure-numpy parser inside ``mapInPandas`` —
no GDAL, no external libs.  Parallelism is per-FILE (an orthophoto
mosaic of many GeoTIFFs fans out naturally; a single multi-GB file
decodes in one task — for that shape, pre-split upstream or raise
``spark.sql.files.maxPartitionBytes`` won't help because TIFF blocks
inside one file share an IFD; this is the documented single-file limit).

Emitted blocks are SELF-DESCRIBING: every row has block_x = block_y = 0
and a per-block ``geo_transform`` translated to the block's own corner —
exactly equivalent to grid-indexed blocks for the warp (which computes
the origin as ``gt[0] + (block_x*width + col)*gt[1]``), and it lets edge
tiles keep their CROPPED true size (TIFF pads edge tiles to the full
tile size; a grid-indexed row with a non-uniform width would break the
origin math).

Supported (TIFF 6.0 + OGC GeoTIFF 1.1, both public specs):
  - classic TIFF and BigTIFF (magic 43, 8-byte offsets, LONG8 types —
    the >4 GB orthophoto container), little- or big-endian;
  - tiled and stripped layouts, PlanarConfiguration=1 (chunky);
  - Compression 1 (none), 5 (LZW, TIFF 6.0 §13 with the spec's
    early-change code widths), 8/32946 (Deflate/zlib), and 32773
    (PackBits, §9), Predictor 1/2 (horizontal differencing);
  - 8-bit unsigned samples, any SamplesPerPixel (``ensure_alpha`` adds
    an opaque alpha band when the source has none, matching the
    reference's RGB-orthophoto + alpha model);
  - georeferencing from ModelPixelScaleTag (33550) + ModelTiepointTag
    (33922), axis-aligned; CRS from the GeoKeyDirectory (34735):
    ProjectedCSTypeGeoKey 3072 / GeographicTypeGeoKey 2048 -> EPSG:n.

``write_geotiff`` is the matching minimal writer (used by the test
fixtures and handy for sinks); it round-trips through this reader
byte-exactly.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# TIFF tag ids (TIFF 6.0 §8; GeoTIFF 1.1 §7)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION = 258, 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR = 284, 317
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE, _T_TIEPOINT, _T_GEOKEYS = 33550, 33922, 34735
_T_MODEL_TRANSFORM = 34264

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
              11: 4, 12: 8, 16: 8, 17: 8, 18: 8}  # 16-18: BigTIFF LONG8s
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d", 16: "Q", 17: "q", 18: "Q"}


class GeoTiffError(ValueError):
    pass


def _tiff_layout(buf: bytes):
    """(endian, first_ifd_offset, entry_size, inline_bytes, count_fmt)."""
    if len(buf) < 8:
        raise GeoTiffError("not a TIFF: too short")
    bo = buf[:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise GeoTiffError("not a TIFF: bad byte-order mark")
    magic = struct.unpack(e + "H", buf[2:4])[0]
    if magic == 43:  # BigTIFF (Adobe/AWare 2004 spec, public)
        off_size, ok = struct.unpack(e + "HH", buf[4:8])
        if off_size != 8 or ok != 0:
            raise GeoTiffError(f"bad BigTIFF header ({off_size}, {ok})")
        (ifd_off,) = struct.unpack(e + "Q", buf[8:16])
        return e, ifd_off, 20, 8, "Q"
    if magic == 42:
        (ifd_off,) = struct.unpack(e + "I", buf[4:8])
        return e, ifd_off, 12, 4, "I"
    raise GeoTiffError(f"not a TIFF: magic {magic}")


def _read_ifd_at(buf: bytes, e: str, ifd_off: int, ent_sz: int,
                 inline: int, cnt_fmt: str) -> tuple[dict[int, tuple], int]:
    """One IFD at ``ifd_off`` -> ({tag: values}, next_ifd_offset)."""
    if ent_sz == 20:
        (n_entries,) = struct.unpack(e + "Q", buf[ifd_off:ifd_off + 8])
        ent0 = ifd_off + 8
    else:
        (n_entries,) = struct.unpack(e + "H", buf[ifd_off:ifd_off + 2])
        ent0 = ifd_off + 2
    tags: dict[int, tuple] = {}
    for i in range(int(n_entries)):
        o = ent0 + ent_sz * i
        tag, typ = struct.unpack(e + "HH", buf[o:o + 4])
        (cnt,) = struct.unpack(e + cnt_fmt, buf[o + 4:o + 4 + inline])
        if typ not in _TYPE_SIZE:
            continue
        size = _TYPE_SIZE[typ] * cnt
        val_o = o + 4 + inline
        if size <= inline:
            raw = buf[val_o:val_o + size]
        else:
            (voff,) = struct.unpack(e + cnt_fmt, buf[val_o:val_o + inline])
            raw = buf[voff:voff + size]
        if typ in (5, 10):  # rational: pairs of (num, den)
            base = "I" if typ == 5 else "i"
            flat = struct.unpack(e + base * (2 * cnt), raw)
            tags[tag] = tuple(
                flat[2 * j] / max(flat[2 * j + 1], 1) for j in range(cnt)
            )
        elif typ == 2:  # ascii
            tags[tag] = (raw.rstrip(b"\0").decode("ascii", "replace"),)
        elif typ == 7:  # UNDEFINED: opaque bytes (ICC profiles, EXIF blobs,
            tags[tag] = (bytes(raw),)  # Photoshop tags) — keep, don't crash
        else:
            tags[tag] = struct.unpack(e + _TYPE_FMT[typ] * cnt, raw)
    nxt_o = ent0 + ent_sz * int(n_entries)
    (nxt,) = struct.unpack(e + cnt_fmt, buf[nxt_o:nxt_o + inline])
    return tags, int(nxt)


def _read_ifd(buf: bytes) -> dict[int, tuple]:
    """Parse the FIRST IFD into {tag: (values...)} — classic TIFF (magic
    42, 12-byte entries, 4-byte offsets) or BigTIFF (magic 43, 20-byte
    entries, 8-byte offsets/counts; the >4 GB orthophoto shape — every
    real mosaic tile GDAL emits at scale)."""
    e, ifd_off, ent_sz, inline, cnt_fmt = _tiff_layout(buf)
    tags, _ = _read_ifd_at(buf, e, ifd_off, ent_sz, inline, cnt_fmt)
    return tags


# read_ifds stops after this many IFDs (a safety bound on the chain walk)
MAX_IFDS = 64


def read_ifds(buf: bytes) -> list[dict[int, tuple]]:
    """Walk the whole IFD chain (COG files append reduced-resolution
    overview IFDs, NewSubfileType=1, after the full-resolution one), at
    most ``MAX_IFDS`` of them."""
    e, off, ent_sz, inline, cnt_fmt = _tiff_layout(buf)
    out = []
    seen = set()
    while off and off not in seen and len(out) < MAX_IFDS:
        seen.add(off)
        tags, off = _read_ifd_at(buf, e, off, ent_sz, inline, cnt_fmt)
        out.append(tags)
    return out


def _crs_from_geokeys(keys: tuple) -> str:
    """EPSG code from the GeoKeyDirectory short vector (GeoTIFF 1.1 §7.1)."""
    if len(keys) < 4:
        return "EPSG:3857"
    n = keys[3]
    found = {}
    for j in range(n):
        o = 4 + 4 * j
        if o + 4 > len(keys):
            break
        kid, loc, cnt, val = keys[o:o + 4]
        if loc == 0:
            found[kid] = val
    # projected beats geographic when both present (GeoTIFF §7.2)
    if found.get(3072):
        return f"EPSG:{found[3072]}"
    if found.get(2048):
        return f"EPSG:{found[2048]}"
    return "EPSG:3857"


def geotiff_meta(buf: bytes, require_geo: bool = True,
                 tags: dict[int, tuple] | None = None) -> dict:
    """Layout + georeferencing of a GeoTIFF byte buffer (first IFD, or a
    pre-parsed ``tags`` dict for overview IFDs).  ``require_geo=False``
    admits plain TIFFs (geo_transform = None) for callers that place the
    pixels in an external grid (VRT) or derive it (COG overviews)."""
    t = tags if tags is not None else _read_ifd(buf)
    if _T_WIDTH not in t or _T_HEIGHT not in t:
        raise GeoTiffError("missing ImageWidth/ImageLength")
    width, height = t[_T_WIDTH][0], t[_T_HEIGHT][0]
    spp = t.get(_T_SPP, (1,))[0]
    bits = t.get(_T_BITS, (8,) * spp)
    if any(b != 8 for b in bits):
        raise GeoTiffError(f"only 8-bit samples supported, got {bits}")
    if t.get(_T_SAMPLE_FORMAT, (1,))[0] != 1:
        raise GeoTiffError("only unsigned-int samples supported")
    if t.get(_T_PLANAR, (1,))[0] != 1:
        raise GeoTiffError("only PlanarConfiguration=1 (chunky) supported")
    comp = t.get(_T_COMPRESSION, (1,))[0]
    if comp not in (1, 5, 7, 8, 32946, 32773):
        raise GeoTiffError(
            f"unsupported Compression={comp} "
            f"(none/LZW/JPEG/Deflate/PackBits only)"
        )
    pred = t.get(_T_PREDICTOR, (1,))[0]
    if pred not in (1, 2):
        raise GeoTiffError(f"unsupported Predictor={pred}")
    if _T_TILE_OFFSETS in t:
        layout = {
            "kind": "tiled",
            "tw": t[_T_TILE_W][0], "th": t[_T_TILE_H][0],
            "offsets": t[_T_TILE_OFFSETS], "counts": t[_T_TILE_COUNTS],
        }
    elif _T_STRIP_OFFSETS in t:
        layout = {
            "kind": "strips",
            "rps": t.get(_T_ROWS_PER_STRIP, (height,))[0],
            "offsets": t[_T_STRIP_OFFSETS], "counts": t[_T_STRIP_COUNTS],
        }
    else:
        raise GeoTiffError("neither tiled nor stripped layout present")
    # georeferencing: PixelScale+Tiepoint (axis-aligned) or the full
    # affine ModelTransformationTag (GDAL's rotated-source form)
    scale = t.get(_T_PIXEL_SCALE)
    tie = t.get(_T_TIEPOINT)
    xf = t.get(_T_MODEL_TRANSFORM)
    if scale is not None and tie is not None:
        # tiepoint (i, j, k, X, Y, Z): raster point (i, j) at model (X, Y)
        i, j = tie[0], tie[1]
        X, Y = tie[3], tie[4]
        sx, sy = scale[0], scale[1]
        gt = [X - i * sx, sx, 0.0, Y + j * sy, 0.0, -sy]
    elif xf is not None and len(xf) == 16:
        # ModelTransformationTag (GeoTIFF 1.1 §B.6): row-major 4x4 affine
        # X = m00*col + m01*row + m03; Y = m10*col + m11*row + m13.
        # GDAL writes this form for ROTATED geo-transforms — which the
        # warp supports (rotated-GT golden pytest) — so carry the shear
        # terms through instead of rejecting.
        if xf[2] != 0.0 or xf[6] != 0.0:
            raise GeoTiffError("3-D ModelTransformation is not supported")
        gt = [xf[3], xf[0], xf[1], xf[7], xf[4], xf[5]]
    elif not require_geo:
        gt = None
    else:
        raise GeoTiffError(
            "missing ModelPixelScale/ModelTiepoint or ModelTransformation "
            "(non-georeferenced TIFFs are not supported)"
        )
    return {
        "width": int(width), "height": int(height), "bands": int(spp),
        "compression": int(comp), "predictor": int(pred), "layout": layout,
        # tag 347 (JPEGTables): shared quant/huffman tables for comp=7
        "jpeg_tables": t.get(347, (None,))[0],
        "geo_transform": gt,
        "crs": _crs_from_geokeys(t.get(_T_GEOKEYS, ())),
    }


def _undo_predictor2(arr: np.ndarray) -> np.ndarray:
    """Horizontal differencing: cumulative sum along columns, mod 256."""
    return np.cumsum(arr, axis=1, dtype=np.uint64).astype(np.uint8)


_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first codes, 9→12-bit widths with the spec's
    EARLY change (decoder widens after adding table entry 510/1022/2046).
    Pure Python — runs executor-side inside the mapInPandas splitter, one
    stream per tile/strip, so a mosaic still decodes in parallel."""
    out = bytearray()
    table: list[bytes] = []
    bitbuf = bitcnt = pos = 0
    width, nxt = 9, 258
    prev: bytes | None = None
    n = len(data)
    while True:
        while bitcnt < width:
            if pos >= n:
                raise GeoTiffError("LZW stream truncated before EOI")
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            bitcnt += 8
        code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
        bitcnt -= width
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width, nxt, prev = 9, 258, None
            continue
        if code == _LZW_EOI:
            return bytes(out)
        if not table:
            raise GeoTiffError("LZW stream must start with a ClearCode")
        if prev is None:
            if code > 255:
                raise GeoTiffError("corrupt LZW: first code not a literal")
            entry = table[code]
        elif code < nxt:
            entry = table[code]
            table.append(prev + entry[:1])
            nxt += 1
        elif code == nxt:
            entry = prev + prev[:1]
            table.append(entry)
            nxt += 1
        else:
            raise GeoTiffError("corrupt LZW: code beyond table")
        out += entry
        prev = entry
        if nxt == (1 << width) - 1 and width < 12:
            width += 1


def _lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW encoder (writer/fixtures): the encoder widens one
    entry LATER than the decoder (after adding 511/1023/2047) and emits a
    ClearCode when the table reaches 4094 so the decoder never overflows."""
    out = bytearray()
    bitbuf = bitcnt = 0

    def emit(code: int, w: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << w) | code
        bitcnt += w
        while bitcnt >= 8:
            out.append((bitbuf >> (bitcnt - 8)) & 0xFF)
            bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    width, nxt = 9, 258
    emit(_LZW_CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        if nxt == (1 << width):
            width += 1
        if nxt == 4094:
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            width, nxt = 9, 258
        w = bytes([b])
    if w:
        emit(table[w], width)
        # the decoder adds a table entry for this last code too, so EOI
        # must go out at the width that entry implies (nxt <= 4094 here)
        nxt += 1
        if nxt == (1 << width):
            width += 1
    emit(_LZW_EOI, width)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §9 PackBits (rows are compressed separately but the
    concatenated stream decodes linearly, so one pass suffices)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:
            if i + h + 1 > n:
                raise GeoTiffError("PackBits literal run truncated")
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:
            if i >= n:
                raise GeoTiffError("PackBits replicate run truncated")
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # 128 = no-op per spec
    if len(out) < expected:
        raise GeoTiffError(f"PackBits short: {len(out)} < {expected}")
    return bytes(out[:expected])


def _packbits_encode_row(row: bytes) -> bytes:
    """One row -> PackBits (TIFF writers must not pack across rows)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))
            out.append(row[i])
            i = j
        else:
            # literal run: until the next >=3 repeat or 128 bytes
            j = i + 1
            while j < n and j - i < 128:
                if j + 2 < n and row[j] == row[j + 1] == row[j + 2]:
                    break
                j += 1
            out.append(j - i - 1)
            out += row[i:j]
            i = j
    return bytes(out)


def _decode_block(buf: bytes, off: int, cnt: int, meta: dict,
                  h: int, w: int) -> np.ndarray:
    """One tile/strip payload -> (h, w, bands) u8 (h/w = PADDED size)."""
    raw = buf[off:off + cnt]
    if meta["compression"] == 7:
        # JPEG-in-TIFF (TTN2): each tile/strip is an (often abbreviated)
        # baseline JPEG stream; tag 347 carries the shared tables as
        # SOI..EOI — splice its body after the tile's SOI.  The real
        # orthophoto delivery format (YCbCr photometric; our decoder
        # returns RGB, which is the blocks-table convention).
        from freemap_tiler_spark.functions import jpeg as _jpeg

        tables = meta.get("jpeg_tables")
        stream = raw
        if tables and len(tables) > 4 and raw[:2] == b"\xff\xd8":
            stream = b"\xff\xd8" + bytes(tables)[2:-2] + raw[2:]
        arr = _jpeg.decode(stream)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        if arr.shape[0] < h or arr.shape[1] < w:
            raise GeoTiffError(
                f"JPEG tile {arr.shape[:2]} smaller than layout ({h}, {w})"
            )
        if arr.shape[2] != meta["bands"]:
            raise GeoTiffError(
                f"JPEG band count {arr.shape[2]} != SPP {meta['bands']}"
            )
        return np.ascontiguousarray(arr[:h, :w])
    if meta["compression"] in (8, 32946):
        raw = zlib.decompress(raw)
    elif meta["compression"] == 5:
        raw = _lzw_decode(raw)
    elif meta["compression"] == 32773:
        raw = _packbits_decode(raw, h * w * meta["bands"])
    nb = meta["bands"]
    need = h * w * nb
    if len(raw) < need:
        raise GeoTiffError(f"short block: {len(raw)} < {need}")
    arr = np.frombuffer(raw, np.uint8, count=need).reshape(h, w, nb)
    if meta["predictor"] == 2:
        arr = _undo_predictor2(arr)
    return arr


def geotiff_overviews(buf: bytes) -> list[dict]:
    """Metas for the whole IFD chain: index 0 is full resolution (geo
    tags required); overview levels (COG reduced-resolution IFDs) derive
    their geo_transform by scaling level 0's by the size ratio and
    inherit its CRS."""
    chain = read_ifds(buf)
    base = geotiff_meta(buf, tags=chain[0])
    metas = [base]
    g = base["geo_transform"]
    for t in chain[1:]:
        # only REDUCED-RESOLUTION pages are overviews (NewSubfileType
        # bit 0, tag 254); internal mask IFDs (bit 2 — routine in GDAL
        # JPEG COGs, often 1-bit) and unrelated multi-page images are
        # skipped rather than adopted as pixel sources
        sub = t.get(254, (0,))[0]
        if not (sub & 1) or (sub & 4):
            continue
        try:
            m = geotiff_meta(buf, require_geo=False, tags=t)
        except GeoTiffError:
            continue  # e.g. an overview of an unsupported layout
        fx = base["width"] / m["width"]
        fy = base["height"] / m["height"]
        m["geo_transform"] = [g[0], g[1] * fx, g[2] * fy,
                              g[3], g[4] * fx, g[5] * fy]
        m["crs"] = base["crs"]
        metas.append(m)
    return metas


def select_overview(metas: list[dict], max_pixel_size: float) -> dict:
    """The COARSEST level whose pixel size still resolves
    ``max_pixel_size`` (the tiler's target ground resolution) — i.e. the
    cheapest IFD that loses nothing at the requested zoom.  Falls back to
    full resolution when every overview is too coarse."""
    def pitch(m):
        g = m["geo_transform"]
        # column pixel pitch: hypot of BOTH x-column terms, so rotated/
        # sheared ModelTransformation sources measure true ground step
        return float(np.hypot(g[1], g[4]))

    best = metas[0]
    for m in metas[1:]:
        if pitch(m) <= max_pixel_size and pitch(m) > pitch(best):
            best = m
    return best


def block_spans(meta: dict) -> list[tuple[int, int, int, int, int, int, int]]:
    """(px0, py0, w, h, block_index, padded_w, padded_h) for every
    tile/strip of a parsed layout — shared by the splitter and the
    windowed reader."""
    W, H = meta["width"], meta["height"]
    lay = meta["layout"]
    if lay["kind"] == "tiled":
        tw, th = lay["tw"], lay["th"]
        across = (W + tw - 1) // tw
        down = (H + th - 1) // th
        return [
            (tx * tw, ty * th, min(tw, W - tx * tw), min(th, H - ty * th),
             ty * across + tx, tw, th)
            for ty in range(down) for tx in range(across)
        ]
    rps = lay["rps"]
    down = (H + rps - 1) // rps
    return [
        (0, sy * rps, W, min(rps, H - sy * rps), sy, W, rps)
        for sy in range(down)
    ]


def read_region(buf: bytes, x0: int, y0: int, w: int, h: int,
                meta: dict | None = None) -> np.ndarray:
    """Decode ONLY the tiles/strips intersecting the pixel window
    (x0, y0, w, h) -> (h, w, bands) u8.  This is the COG-style random
    access a huge single-file source (e.g. the reference's mosaic-wide
    mask band) needs: touching a 256px window of a 775k-pixel-wide mask
    decodes a handful of its tiles, not the file."""
    meta = meta or geotiff_meta(buf)
    out = np.zeros((h, w, meta["bands"]), np.uint8)
    lay = meta["layout"]
    for px0, py0, bw, bh, idx, padw, padh in block_spans(meta):
        ix0, iy0 = max(px0, x0), max(py0, y0)
        ix1 = min(px0 + bw, x0 + w)
        iy1 = min(py0 + bh, y0 + h)
        if ix0 >= ix1 or iy0 >= iy1:
            continue
        store_h = padh if lay["kind"] == "tiled" else bh
        arr = _decode_block(
            buf, lay["offsets"][idx], lay["counts"][idx], meta, store_h, padw
        )
        out[iy0 - y0:iy1 - y0, ix0 - x0:ix1 - x0] = arr[
            iy0 - py0:iy1 - py0, ix0 - px0:ix1 - px0
        ]
    return out


def split_blocks(buf: bytes, ensure_alpha: bool = True,
                 override_gt: list[float] | None = None,
                 origin_px: tuple[int, int] = (0, 0),
                 override_crs: str | None = None,
                 meta: dict | None = None) -> Iterator[dict]:
    """Yield blocks-schema dicts (block_x=block_y=0, per-block translated
    geo_transform) for every tile/strip of a GeoTIFF buffer; edge blocks
    are cropped to the true image extent (TIFF pads them).

    ``override_gt``/``origin_px``/``override_crs`` place the file inside
    an EXTERNAL grid (a VRT mosaic): georeferencing comes from the given
    transform at pixel offset origin_px instead of the file's own geo
    tags (which may be absent — gdalbuildvrt sources often carry none)."""
    if meta is None:
        meta = geotiff_meta(buf, require_geo=override_gt is None)
    nb = meta["bands"]
    gt = override_gt if override_gt is not None else meta["geo_transform"]
    crs = override_crs if override_crs is not None else meta["crs"]
    ox, oy = origin_px
    lay = meta["layout"]
    out_bands = nb + 1 if (ensure_alpha and nb in (1, 3)) else nb
    for px0, py0, bw, bh, idx, padw, padh in block_spans(meta):
        if idx >= len(lay["offsets"]):
            raise GeoTiffError("block index beyond offsets array")
        # strips: the LAST strip is stored at its cropped height (TIFF 6.0
        # strips are not padded vertically); tiles are always full-size
        store_h = padh if lay["kind"] == "tiled" else bh
        arr = _decode_block(
            buf, lay["offsets"][idx], lay["counts"][idx], meta, store_h, padw
        )[:bh, :bw]
        if out_bands != nb:
            alpha = np.full((bh, bw, 1), 255, np.uint8)
            arr = np.concatenate([arr, alpha], axis=2)
        gx, gy = px0 + ox, py0 + oy
        yield {
            "block_x": 0, "block_y": 0, "width": bw, "height": bh,
            "bands": out_bands,
            "data": np.ascontiguousarray(arr).tobytes(),
            # per-block origin walks BOTH gt columns so a rotated/sheared
            # ModelTransformation source stays exact per block
            "geo_transform": [
                gt[0] + gx * gt[1] + gy * gt[2], gt[1], gt[2],
                gt[3] + gx * gt[4] + gy * gt[5], gt[4], gt[5],
            ],
            "crs": crs,
            "nodata": [None] * out_bands,
        }


_BLOCKS_SCHEMA = (
    "block_x int, block_y int, width int, height int, bands int, "
    "data binary, geo_transform array<double>, crs string, nodata array<int>"
)


def geotiff_blocks(
    spark: SparkSession, path: str, max_pixel_size: float | None = None,
) -> DataFrame:
    """Read GeoTIFF file(s) at ``path`` (a file, dir, or glob) into the
    engine's blocks schema: binaryFile scan -> executor-side numpy split
    (1- and 3-band files gain an opaque alpha band).  One task per file; a
    MOSAIC of files is the parallel 100-TB shape.

    ``max_pixel_size`` (model units/pixel, e.g. WebMercator meters of the
    deepest requested zoom) enables COG overview selection: each file
    decodes its COARSEST reduced-resolution IFD that still resolves the
    target — tiling z<=10 from a z19-resolution archive then reads ~1/4^9
    of the bytes."""

    def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                buf = bytes(content)
                meta = None
                if max_pixel_size is not None:
                    meta = select_overview(
                        geotiff_overviews(buf), max_pixel_size)
                rows.extend(split_blocks(buf, meta=meta))
            if rows:
                yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path)
    return files.select("content").mapInPandas(_split, _BLOCKS_SCHEMA)


# ---------------------------------------------------------------------------
# minimal writer (fixtures / sink): tiled or stripped,
# none/lzw/deflate/packbits, pred 1/2
# ---------------------------------------------------------------------------

def _apply_predictor2(arr: np.ndarray) -> np.ndarray:
    d = arr.astype(np.int16)
    d[:, 1:, :] -= d[:, :-1, :].astype(np.int16)
    return (d % 256).astype(np.uint8)


def write_geotiff(
    path: str,
    img: np.ndarray,
    geo_transform: list[float],
    epsg: int = 3857,
    tile: tuple[int, int] | None = None,
    rows_per_strip: int | None = None,
    compression: str = "none",
    predictor: int = 1,
    bigtiff: bool = False,
    model_transform: bool = False,
    overviews: list[int] | None = None,
) -> None:
    """Write (H, W, bands) u8 as a little-endian GeoTIFF.  ``bigtiff``
    emits the BigTIFF container (magic 43, 8-byte offsets — required
    past 4 GB; here it exercises the reader's BigTIFF path).
    ``model_transform`` georeferences via ModelTransformationTag instead
    of PixelScale+Tiepoint and is REQUIRED for rotated/sheared
    geo-transforms (PixelScale cannot express them).  ``overviews``
    (e.g. [2, 4, 8]) appends COG-style reduced-resolution IFDs
    (NewSubfileType=1, box-averaged) to the chain."""
    if img.ndim == 2:
        img = img[:, :, None]
    H, W, nb = img.shape
    gt = geo_transform  # None writes a PLAIN TIFF (VRT mosaic sources)
    if gt is not None and (gt[2] != 0.0 or gt[4] != 0.0) \
            and not model_transform:
        raise GeoTiffError(
            "rotated transforms need model_transform=True "
            "(PixelScale+Tiepoint is axis-aligned only)"
        )
    comp_id = {"none": 1, "lzw": 5, "jpeg": 7, "deflate": 8,
               "packbits": 32773}[compression]
    if comp_id == 7 and (predictor != 1 or nb not in (1, 3)):
        raise GeoTiffError("jpeg compression: predictor 1, 1 or 3 bands")

    def _pack_block(a: np.ndarray) -> bytes:
        if comp_id == 7:
            from freemap_tiler_spark.functions import jpeg as _jpeg

            im = a[:, :, 0] if nb == 1 else a
            return _jpeg.encode(im, quality=90)  # self-contained stream
        if predictor == 2:
            a = _apply_predictor2(a)
        raw = a.tobytes()
        if comp_id == 8:
            return zlib.compress(raw, 6)
        if comp_id == 5:
            return _lzw_encode(raw)
        if comp_id == 32773:
            rb = a.shape[1] * a.shape[2]  # bytes per row (§9: per-row packing)
            return b"".join(
                _packbits_encode_row(raw[r * rb:(r + 1) * rb])
                for r in range(a.shape[0])
            )
        return raw

    def _blocks_for(im: np.ndarray) -> list[bytes]:
        h, w, _ = im.shape
        bl: list[bytes] = []
        if tile is not None:
            tw, th = tile
            if tw % 16 or th % 16:
                raise GeoTiffError("TIFF tile dims must be multiples of 16")
            for ty in range((h + th - 1) // th):
                for tx in range((w + tw - 1) // tw):
                    pad = np.zeros((th, tw, nb), np.uint8)
                    sub = im[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                    pad[:sub.shape[0], :sub.shape[1]] = sub
                    bl.append(_pack_block(pad))
        else:
            rps = rows_per_strip or h
            for sy in range((h + rps - 1) // rps):
                bl.append(_pack_block(im[sy * rps:(sy + 1) * rps]))
        return bl

    def _box_down(im: np.ndarray, f: int) -> np.ndarray:
        h, w, _ = im.shape
        ch, cw = (h // f) * f, (w // f) * f
        c = im[:ch, :cw].astype(np.uint32)
        c = c.reshape(ch // f, f, cw // f, f, nb)
        return ((c.sum(axis=(1, 3)) + f * f // 2) // (f * f)).astype(np.uint8)

    def _entries_for(im: np.ndarray, with_geo: bool,
                     is_overview: bool, blocks: list[bytes]):
        h, w, _ = im.shape
        geokeys = [1, 1, 1, 2,
                   1024, 0, 1, 1,      # GTModelType = projected
                   3072, 0, 1, epsg]   # ProjectedCSType
        ents: list[tuple[int, int, tuple]] = [
            (_T_WIDTH, 4, (w,)), (_T_HEIGHT, 4, (h,)),
            (_T_BITS, 3, (8,) * nb), (_T_COMPRESSION, 3, (comp_id,)),
            (_T_PHOTOMETRIC, 3, (2 if nb >= 3 else 1,)),
            (_T_SPP, 3, (nb,)), (_T_PLANAR, 3, (1,)),
            (_T_PREDICTOR, 3, (predictor,)),
        ]
        if is_overview:
            ents.append((254, 4, (1,)))  # NewSubfileType: reduced-resolution
        if with_geo:
            ents.append((_T_GEOKEYS, 3, tuple(geokeys)))
            if model_transform:
                xf = (gt[1], gt[2], 0.0, gt[0],
                      gt[4], gt[5], 0.0, gt[3],
                      0.0, 0.0, 0.0, 0.0,
                      0.0, 0.0, 0.0, 1.0)
                ents.append((_T_MODEL_TRANSFORM, 12, xf))
            else:
                ents += [
                    (_T_PIXEL_SCALE, 12, (gt[1], -gt[5], 0.0)),
                    (_T_TIEPOINT, 12, (0.0, 0.0, 0.0, gt[0], gt[3], 0.0)),
                ]
        if tile is not None:
            ents += [
                (_T_TILE_W, 4, (tile[0],)), (_T_TILE_H, 4, (tile[1],)),
                (_T_TILE_OFFSETS, 4, tuple(0 for _ in blocks)),
                (_T_TILE_COUNTS, 4, tuple(len(b) for b in blocks)),
            ]
        else:
            ents += [
                (_T_STRIP_OFFSETS, 4, tuple(0 for _ in blocks)),
                (_T_ROWS_PER_STRIP, 4, (rows_per_strip or h,)),
                (_T_STRIP_COUNTS, 4, tuple(len(b) for b in blocks)),
            ]
        if bigtiff:
            # offsets/counts carry LONG8 (type 16): the whole point of
            # the container is block data past the 4 GB line
            _long8 = {_T_TILE_OFFSETS, _T_TILE_COUNTS,
                      _T_STRIP_OFFSETS, _T_STRIP_COUNTS}
            ents = [(tag, 16 if tag in _long8 else typ, vals)
                    for tag, typ, vals in ents]
        ents.sort(key=lambda x: x[0])
        return ents

    # levels: full resolution (+ geo) then each overview factor
    level_imgs = [(img, True, False)]
    for f in overviews or []:
        level_imgs.append((_box_down(img, f), False, True))
    segs = []
    for im, with_geo, is_ov in level_imgs:
        blocks = _blocks_for(im)
        segs.append((_entries_for(im, with_geo and gt is not None,
                                  is_ov, blocks), blocks))

    # container layout: header | seg0 | seg1 | ... where each segment is
    # IFD | out-of-line values | block data; next-IFD pointers chain.
    if bigtiff:
        hdr_size, inline, cnt_fmt = 16, 8, "Q"
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, hdr_size)
    else:
        hdr_size, inline, cnt_fmt = 8, 4, "I"
        header = struct.pack("<2sHI", b"II", 42, hdr_size)

    def _seg_size(entries, blocks):
        ifd = (8 + 20 * len(entries) + 8) if bigtiff \
            else (2 + 12 * len(entries) + 4)
        over = sum(s for s in (_TYPE_SIZE[t] * len(v)
                               for _, t, v in entries) if s > inline)
        return ifd + over + sum(len(b) for b in blocks)

    starts = [hdr_size]
    for entries, blocks in segs[:-1]:
        starts.append(starts[-1] + _seg_size(entries, blocks))

    offsets_tag = _T_TILE_OFFSETS if tile is not None else _T_STRIP_OFFSETS
    out = bytearray(header)
    for si, (entries, blocks) in enumerate(segs):
        seg_start = starts[si]
        ifd_size = (8 + 20 * len(entries) + 8) if bigtiff \
            else (2 + 12 * len(entries) + 4)
        val_off = seg_start + ifd_size
        sizes = [_TYPE_SIZE[t] * len(v) for _, t, v in entries]
        data_off = val_off + sum(s for s in sizes if s > inline)
        block_offsets = []
        o = data_off
        for b in blocks:
            block_offsets.append(o)
            o += len(b)
        next_ifd = starts[si + 1] if si + 1 < len(segs) else 0
        packed: list[bytes] = []
        overflow: list[bytes] = []
        cur = val_off
        for (tag, typ, vals), size in zip(entries, sizes):
            if tag == offsets_tag:
                vals = tuple(block_offsets)
            if typ == 12:
                raw = struct.pack("<" + "d" * len(vals), *vals)
            else:
                raw = struct.pack("<" + _TYPE_FMT[typ] * len(vals), *vals)
            head = struct.pack("<HH" + cnt_fmt, tag, typ, len(vals))
            if size <= inline:
                packed.append(head + raw.ljust(inline, b"\0"))
            else:
                packed.append(head + struct.pack("<" + cnt_fmt, cur))
                overflow.append(raw)
                cur += size
        out += struct.pack("<Q" if bigtiff else "<H", len(entries))
        out += b"".join(packed)
        out += struct.pack("<" + cnt_fmt, next_ifd)
        out += b"".join(overflow)
        for b in blocks:
            out += b
    with open(path, "wb") as fh:
        fh.write(bytes(out))
