"""Seeded inputs, the job of each workload, and the checks of its outputs.

A workload is four functions, listed in ``WORKLOADS``:

- ``make_<name>(spark, seed, work, size)`` generates the inputs from the
  seed, writes them under ``work`` and returns a context with the paths and
  the outputs expected from them;
- ``run_<name>(spark, ctx, tracer, out)`` runs one job from the input table to
  a complete result;
- ``check_<name>(ctx, result)`` returns the list of failed checks (empty
  when every output is correct);
- ``<name>_output(result)`` gives the job's (tiles, output MB).

Expected outputs are computed here with numpy and sqlite3 from the
generated inputs, never with the engine's own helpers.
"""

from __future__ import annotations

import math
import os
import sqlite3
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

ORIGIN = 20037508.342789244  # half the EPSG:3857 world width, metres
WORLD = 2 * ORIGIN

# ---------------------------------------------------------------------------
# Sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Size:
    # tiler: a square raster of blocks_per_side^2 blocks of block_px^2 RGBA
    # pixels at the resolution of max_zoom.  Its width is 256k+1 pixels, so
    # every origin gives the same (k+1)^2 leaf tiles while the seed still
    # moves the tile alignment and the edge-tile coverage.
    blocks_per_side: int = 3
    block_px: int = 171
    max_zoom: int = 10
    min_zoom: int = 9
    # corpus_joins
    docs: int = 10_000
    dup_frac: float = 0.01
    probes: int = 500
    vectors: int = 2_000
    dim: int = 32
    density_max_zoom: int = 10
    density_tile: int = 64


FULL = Size()
SMALL = Size(docs=2_000, probes=100, vectors=200)

TILE = 256
KNN_K = 5
TOPK = 10
PROBE_EVERY = 20  # similarity probes: vec_id % PROBE_EVERY == 0
JACCARD_MIN = 0.5
BLOCK_SCHEMA = (
    "block_x int, block_y int, width int, height int, bands int, data binary, "
    "geo_transform array<double>, crs string, nodata array<int>"
)
CORPUS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
HOT_CENTERS = [(17.11, 48.15), (21.26, 48.72), (18.74, 49.21)]
BBOX = (16.8, 47.7, 22.6, 49.6)
LANGS = ["en", "de", "sk", "cs"]
POLYGONS = [  # (lon ring, lat ring) inside the corpus bbox
    ([17.0, 18.2, 18.0, 16.9], [48.0, 48.1, 49.2, 49.0]),
    ([19.0, 21.0, 21.0, 20.0, 20.0, 19.0], [48.0, 48.0, 48.5, 48.5, 49.5, 49.5]),
    ([16.9, 22.5, 22.5, 16.9], [47.8, 47.8, 48.2, 48.2]),
]


@dataclass
class Context:
    name: str
    seed: int
    size: Size
    paths: dict = field(default_factory=dict)
    expect: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# tiler_png
# ---------------------------------------------------------------------------

def raster_pixels(seed: int, n: int) -> np.ndarray:
    """(n, n, 4) RGBA: fixed gradients plus seeded noise, opaque except a
    seeded transparent disc kept 60 px away from every edge.  The noise
    sets the compressed size, so output size hardly depends on the seed."""
    rng = np.random.default_rng([seed, 1])
    yy, xx = np.mgrid[0:n, 0:n]
    img = np.empty((n, n, 4), dtype=np.uint8)
    for band, (fx, fy) in enumerate([(0.3, 1.1), (1.3, 0.4), (0.7, 0.7)]):
        img[:, :, band] = (xx * fx + yy * fy).astype(np.int64) % 224
    img[:, :, :3] += rng.integers(0, 32, size=(n, n, 3), dtype=np.uint8)
    cx, cy = rng.uniform(100, n - 100, size=2)
    img[:, :, 3] = np.where((xx - cx) ** 2 + (yy - cy) ** 2 < 40 ** 2, 0, 255)
    return img


def expected_tile_counts(u: float, v: float, n: int, max_zoom: int, min_zoom: int) -> dict:
    """Per-zoom tile counts of a raster whose top-left corner sits at global
    pixel (u, v) of max_zoom and spans n pixels: a leaf tile exists where a
    target pixel centre falls inside the raster, and every level above
    holds the parents of the level below."""
    def tile_span(a: float) -> tuple[int, int]:
        lo = math.ceil(a - 0.5)           # first pixel whose centre is inside
        hi = math.ceil(a + n - 0.5) - 1   # last one
        return lo // TILE, hi // TILE

    (x0, x1), (y0, y1) = tile_span(u), tile_span(v)
    out = {}
    for z in range(max_zoom, min_zoom - 1, -1):
        s = max_zoom - z
        out[z] = ((x1 >> s) - (x0 >> s) + 1) * ((y1 >> s) - (y0 >> s) + 1)
    return out


def make_tiler_png(spark, seed: int, work: str, size: Size = FULL) -> Context:
    ctx = Context("tiler_png", seed, size)
    g, b, z = size.blocks_per_side, size.block_px, size.max_zoom
    n = g * b
    if (n - 1) % TILE:
        raise ValueError(f"raster width {n} px is not 256k+1")
    res = WORLD / (TILE << z)
    rng = np.random.default_rng([seed, 0])
    # origin: the seed picks the pixel of a tile near Bratislava that the
    # raster starts on.  The sub-pixel phase is fixed: bilinear resampling
    # at another phase smooths the noise more or less, which would move the
    # encoded size with the seed.
    tx, ty = int((1_870_000.0 + ORIGIN) / (res * TILE)), int((ORIGIN - 6_280_000.0) / (res * TILE))
    u, v = (t * TILE + int(rng.integers(0, TILE)) + 0.3 for t in (tx, ty))
    ox, oy = u * res - ORIGIN, ORIGIN - v * res
    img = raster_pixels(seed, n)
    rows = [
        (bx, by, b, b, 4, img[by * b:(by + 1) * b, bx * b:(bx + 1) * b].tobytes(),
         [ox, res, 0.0, oy, 0.0, -res], "EPSG:3857", [None] * 4)
        for by in range(g) for bx in range(g)
    ]
    ctx.paths["raster"] = os.path.join(work, "raster")
    spark.createDataFrame(rows, BLOCK_SCHEMA).write.mode("overwrite").parquet(
        ctx.paths["raster"]
    )
    ctx.expect["origin"] = (ox, oy)
    ctx.expect["tiles"] = expected_tile_counts(u, v, n, z, size.min_zoom)
    return ctx


def run_tiler_png(spark, ctx: Context, tracer, out: str) -> dict:
    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import lineage, store
    from freemap_tiler_spark.plans.mbtiles import export_mbtiles

    # run_tiler looks these up on their modules at call time, so replacing
    # them spans its calls into plans.lineage and plans.store
    undo = [
        tracer.wrap(lineage, "write_pyramid", "plans.lineage", items=lambda c: sum(c.values())),
        tracer.wrap(lineage, "write_metadata", "plans.lineage"),
        tracer.wrap(store, "write_tiles", "plans.store"),
    ] if tracer.enabled else []
    blocks = spark.read.parquet(ctx.paths["raster"])
    try:
        with tracer.span("pipeline") as h:
            counts = run_tiler(
                spark, blocks, out, max_zoom=ctx.size.max_zoom,
                min_zoom=ctx.size.min_zoom, fmt="png", resume=False,
            )
            h["items"] = counts.get(ctx.size.max_zoom, 0)
    finally:
        for u in undo:
            u()
    tracer.add_items("plans.store", sum(counts.values()))
    path = out + ".mbtiles"
    with tracer.span("plans.mbtiles") as h:
        export_mbtiles(spark, out, path)
        h["items"] = sum(counts.values())
    return {"root": out, "mbtiles": path, "counts": counts}


def png_decode(data: bytes) -> np.ndarray:
    """Minimal 8-bit GA/RGBA PNG decoder (filters 0-4), kept separate from
    the engine's so a symmetric encoder/decoder bug cannot pass."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat = 8, []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + length]
        if zlib.crc32(tag + body) != struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])[0]:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype not in (4, 6):
                raise ValueError(f"unsupported PNG layout: depth {depth}, colour type {ctype}")
            bpp = {4: 2, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat.append(body)
        pos += 12 + length
    raw = zlib.decompress(b"".join(idat))
    stride = w * bpp
    prev = bytearray(stride)
    rows = []
    for r in range(h):
        ftype = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1:(r + 1) * (stride + 1)])
        if ftype == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:
            line = bytearray((a + b) & 0xFF for a, b in zip(line, prev))
        elif ftype == 3:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter {ftype}")
        rows.append(bytes(line))
        prev = line
    return np.frombuffer(b"".join(rows), np.uint8).reshape(h, w, bpp)


def _morton(z: int, x: int, y: int) -> int:
    """The engine's cell id: zoom in the top bits, Morton (x, y) below."""
    m = 0
    for bit in range(z):
        m |= ((x >> bit) & 1) << (2 * bit) | ((y >> bit) & 1) << (2 * bit + 1)
    return (z << 58) | m


def check_tiler_png(ctx: Context, result: dict) -> list[str]:
    import pyarrow.parquet as pq

    errors = []
    conn = sqlite3.connect(result["mbtiles"])
    try:
        per_zoom = dict(conn.execute(
            "SELECT zoom_level, COUNT(*) FROM tiles GROUP BY zoom_level"
        ))
        meta = dict(conn.execute("SELECT name, value FROM metadata"))
        n_rows = sum(per_zoom.values())
        z0, z1 = ctx.size.min_zoom, ctx.size.max_zoom
        sample = []
        for z in (z1, z0):  # first tile of the leaf and the top level
            sample += conn.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
                " WHERE zoom_level = ? ORDER BY tile_column, tile_row LIMIT 1", (z,)
            ).fetchall()
        sample += conn.execute(  # a leaf tile away from the raster edges
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
            " WHERE zoom_level = ? ORDER BY tile_column, tile_row LIMIT 1 OFFSET ?",
            (z1, per_zoom.get(z1, 0) // 2),
        ).fetchall()
    finally:
        conn.close()
    if per_zoom != ctx.expect["tiles"]:
        errors.append(f"per-zoom tiles {per_zoom} != expected {ctx.expect['tiles']}")
    store = pq.read_table(os.path.join(result["root"], "store"), columns=["tile_data"])
    stored = store.num_rows - store.column("tile_data").null_count
    if n_rows != stored:
        errors.append(f"mbtiles rows {n_rows} != non-empty store rows {stored}")
    want = {"name", "format", "minzoom", "maxzoom", "bounds"}
    if not want <= set(meta) or meta.get("format") != "png":
        errors.append(f"metadata rows {sorted(meta)} (format {meta.get('format')})")
    pyramid = pq.read_table(os.path.join(result["root"], "tiles"), columns=["cell", "payload"])
    payload = dict(zip(pyramid.column("cell").to_pylist(), pyramid.column("payload").to_pylist()))
    for z, x, tms_y, data in sample:
        cell = _morton(z, x, (1 << z) - 1 - tms_y)
        try:
            decoded = png_decode(bytes(data)).tobytes()
        except (ValueError, zlib.error) as exc:
            errors.append(f"tile {z}/{x}/{tms_y} does not decode: {exc}")
            continue
        if decoded != payload.get(cell):
            errors.append(f"tile {z}/{x}/{tms_y} differs from its pyramid payload")
    return errors


def tiler_png_output(result: dict) -> tuple[int, float]:
    """(tiles, MB) of the MBTiles file."""
    conn = sqlite3.connect(result["mbtiles"])
    try:
        (tiles,) = conn.execute("SELECT COUNT(*) FROM tiles").fetchone()
    finally:
        conn.close()
    return tiles, os.path.getsize(result["mbtiles"]) / 1e6


# ---------------------------------------------------------------------------
# corpus_joins
# ---------------------------------------------------------------------------

def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    t = np.tan(np.radians(lat))
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((1.0 - np.log(t + np.sqrt(t * t + 1.0)) / math.pi) / 2.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def ray_cast(px: np.ndarray, py: np.ndarray, xs, ys) -> np.ndarray:
    """Even-odd point-in-polygon over one ring."""
    inside = np.zeros(len(px), dtype=bool)
    xs, ys = np.asarray(xs, float), np.asarray(ys, float)
    for i in range(len(xs)):
        x1, y1, x2, y2 = xs[i - 1], ys[i - 1], xs[i], ys[i]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xi)
    return inside


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus_frame(seed: int, size: Size) -> tuple[pd.DataFrame, dict]:
    """The corpus (input_hint schema) and the arrays its checks need.

    Shape of sources.corpus.geotagged_corpus: 80% of rows carry a
    ``geo:lat,lon`` tag, 30% of rows sit in three hot cells, the rest spread
    over Slovakia.  ``dup_frac`` of the rows copy an earlier row's text with
    its last word changed, so the near-duplicate operator has pairs to find."""
    rng = np.random.default_rng([seed, 2])
    n = size.docs
    hot = rng.random(n) < 0.3
    centre = np.asarray(HOT_CENTERS)[rng.integers(0, 3, n)]
    u1, u2 = rng.random(n), rng.random(n)
    lon = np.where(hot, centre[:, 0] + (u1 - 0.5) * 0.05, BBOX[0] + u1 * (BBOX[2] - BBOX[0]))
    lat = np.where(hot, centre[:, 1] + (u2 - 0.5) * 0.05, BBOX[1] + u2 * (BBOX[3] - BBOX[1]))
    geo = rng.random(n) < 0.8
    words = rng.integers(0, 50_000, size=(n, 12))
    texts = [
        (f"p{i} geo:{lat[i]:.6f},{lon[i]:.6f} " if geo[i] else f"p{i} nogeo ")
        + " ".join(f"w{w}" for w in words[i])
        for i in range(n)
    ]
    n_dup = int(n * size.dup_frac)
    dups = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    sources = rng.integers(0, n // 2, size=n_dup)
    for d, s in zip(dups, sources):
        texts[d] = texts[s].rsplit(" ", 1)[0] + f" v{d}"
        geo[d], lon[d], lat[d] = geo[s], lon[s], lat[s]
    langs = np.asarray(LANGS)[rng.integers(0, 4, n)]
    frame = pd.DataFrame({
        "url": [f"https://example.org/{lg}/{i:08d}" for i, lg in enumerate(langs)],
        "warc_ts": pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": langs,
    })
    # the engine reads the tag back from its 6-decimal text form
    plon = np.array([float(f"{v:.6f}") for v in lon[geo]])
    plat = np.array([float(f"{v:.6f}") for v in lat[geo]])
    return frame, {"texts": texts, "lon": plon, "lat": plat,
                   "planted": set(zip(sources.tolist(), dups.tolist()))}


def make_corpus_joins(spark, seed: int, work: str, size: Size = FULL) -> Context:
    ctx = Context("corpus_joins", seed, size)
    frame, arrays = corpus_frame(seed, size)
    rng = np.random.default_rng([seed, 3])
    n_pts = len(arrays["lon"])
    pick = np.sort(rng.choice(n_pts, size=min(size.probes, n_pts), replace=False))
    vectors = rng.standard_normal((size.vectors, size.dim)).astype(np.float32)

    ctx.paths = {k: os.path.join(work, k) for k in ("corpus", "probes", "vectors")}
    spark.createDataFrame(frame, CORPUS_SCHEMA).write.mode("overwrite").parquet(
        ctx.paths["corpus"]
    )
    spark.createDataFrame(pd.DataFrame({
        "probe_id": pick.astype(np.int64),
        "lon": arrays["lon"][pick], "lat": arrays["lat"][pick],
    })).write.mode("overwrite").parquet(ctx.paths["probes"])
    spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(size.vectors, dtype=np.int64),
                      "embedding": list(vectors)}),
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(ctx.paths["vectors"])

    lon, lat = arrays["lon"], arrays["lat"]
    tiles, z1 = 0, size.density_max_zoom
    x, y = tile_xy(lon, lat, z1)
    for z in range(z1, -1, -1):
        s = z1 - z
        tiles += len(set(zip((x >> s).tolist(), (y >> s).tolist())))
    pip = {}
    for pid, (xs, ys) in enumerate(POLYGONS, start=1):
        hits = int(ray_cast(lon, lat, xs, ys).sum())
        if hits:
            pip[pid] = hits
    ctx.expect = {
        "docs": size.docs, "points": n_pts, "tiles": tiles, "pip": pip,
        "knn_rows": len(pick) * KNN_K,
        "sim_rows": len(range(0, size.vectors, PROBE_EVERY)) * TOPK,
        "texts": arrays["texts"], "planted": arrays["planted"],
    }
    return ctx


def run_corpus_joins(spark, ctx: Context, tracer, out: str) -> dict:
    from freemap_tiler_spark.functions import text as T
    from freemap_tiler_spark.operators import dedup, knn, pip_join, similarity
    from freemap_tiler_spark.operators import pyramid as P

    z1, t = ctx.size.density_max_zoom, ctx.size.density_tile
    corpus = spark.read.parquet(ctx.paths["corpus"])
    doc_id = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    res: dict = {}
    with tracer.span("functions.text") as h:
        pts = corpus.select(
            doc_id.alias("point_id"),
            T.geo_lon("text").alias("lon"), T.geo_lat("text").alias("lat"),
        ).dropna().persist()
        res["points"] = pts.count()
        h["items"] = ctx.expect["docs"]
    with tracer.span("operators.pyramid") as h:
        leaves = P.rasterize_level(P.assign_cells(pts, "lon", "lat", z1), t).persist()
        n_leaves = leaves.count()
        cache: list = []
        levels = P.compose_pyramid(
            leaves, z1, 0, t, 2, levels_per_shuffle=5, round_cache=cache,
            approx_tiles=n_leaves,
        )
        enc = P.encode_level(levels, "png", tile_size=t, bands=2).agg(
            F.count("*"), F.sum(F.length("tile_data")),
        ).first()
        res["tiles"], res["encoded_bytes"] = enc[0], enc[1]
        h["items"] = res["tiles"]
        for df in cache + [leaves]:
            df.unpersist()
    with tracer.span("operators.pip_join") as h:
        polys = [
            {"poly_id": pid, "tag": f"p{pid}", "rings": [(np.asarray(xs), np.asarray(ys))],
             "bbox": (min(xs), min(ys), max(xs), max(ys))}
            for pid, (xs, ys) in enumerate(POLYGONS, start=1)
        ]
        res["pip"] = dict(
            pip_join.pip_join_broadcast(pts, polys).groupBy("poly_id").count().collect()
        )
        h["items"] = res["points"]
    with tracer.span("operators.knn") as h:
        probes = spark.read.parquet(ctx.paths["probes"])
        res["knn_rows"] = knn.knn_join(probes, pts, k=KNN_K, zoom=12).count()
        h["items"] = ctx.size.probes
    with tracer.span("operators.dedup") as h:
        docs = corpus.select(doc_id.alias("doc_id"), "text")
        candidates = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4)
        res["pairs"] = [
            tuple(r) for r in dedup.jaccard_verify(candidates, docs, threshold=JACCARD_MIN).collect()
        ]
        h["items"] = ctx.expect["docs"]
    with tracer.span("operators.similarity") as h:
        emb = spark.read.parquet(ctx.paths["vectors"])
        pr = emb.where(F.col("vec_id") % PROBE_EVERY == 0).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        res["sim_rows"] = similarity.brute_force_topk(pr, emb, k=TOPK).count()
        h["items"] = ctx.expect["sim_rows"] // TOPK
    pts.unpersist()
    return res


def check_corpus_joins(ctx: Context, result: dict) -> list[str]:
    e, errors = ctx.expect, []
    for key in ("points", "tiles", "pip", "knn_rows", "sim_rows"):
        if result.get(key) != e[key]:
            errors.append(f"{key}: {result.get(key)} != expected {e[key]}")
    texts, pairs = e["texts"], result.get("pairs", [])
    bad = [(a, b, j) for a, b, j in pairs
           if not (jaccard(texts[a], texts[b]) >= JACCARD_MIN
                   and abs(jaccard(texts[a], texts[b]) - j) < 1e-9)]
    if bad:
        errors.append(f"{len(bad)} dedup pairs fail the recomputed Jaccard, e.g. {bad[0]}")
    found = len(e["planted"] & {(min(a, b), max(a, b)) for a, b, _ in pairs})
    if found < len(e["planted"]) // 2:
        errors.append(f"dedup found {found} of {len(e['planted'])} planted near-duplicates")
    return errors


def corpus_joins_output(result: dict) -> tuple[int, float]:
    """(tiles, MB) of the encoded density pyramid."""
    return result["tiles"], result["encoded_bytes"] / 1e6


WORKLOADS = {
    "tiler_png": (make_tiler_png, run_tiler_png, check_tiler_png, tiler_png_output),
    "corpus_joins": (make_corpus_joins, run_corpus_joins, check_corpus_joins,
                     corpus_joins_output),
}
