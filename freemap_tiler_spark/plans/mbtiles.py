"""MBTiles SQLite export — the reference's user-facing artifact.

The engine's native store is zoom-partitioned parquet (plans/store.py, the
correct Spark-scale mapping per SURVEY §1.3); `.mbtiles` is an EXPORT step:
SQLite is a single-file single-writer format, so this necessarily runs
driver-side (sqlite3 is in the Python stdlib).  The DDL matches
src/schema.rs:11-40 exactly — tiles(zoom_level, tile_column, tile_row,
tile_data[, tile_alpha]) with the unique key index and the same five
metadata rows; tile_row is already TMS-flipped in the store
(src/tile_inserter.rs:54 parity).

Streamed via ``toLocalIterator`` over a zoom+morton-ordered frame: bounded
driver memory (one partition in flight), and the insert order matches the
store's z-order clustering so SQLite page locality mirrors tile adjacency.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import SparkSession

from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans.fsutil import read_rows
from freemap_tiler_spark.plans.lineage import METADATA_SCHEMA, write_metadata
from freemap_tiler_spark.plans.store import read_tiles

_TILE_SCHEMA = "zoom int, x int, tms_y int, tile_data binary, tile_alpha binary"
# import_mbtiles writes its buffered tiles once their blobs reach this many
# bytes: the driver holds at most one flush of tile data at a time
_FLUSH_BYTES = 128 << 20


def import_mbtiles(
    spark: SparkSession,
    path: str,
    root: str,
    batch: int = 8192,
) -> str:
    """A consumable .mbtiles file -> {root}/store parquet + metadata: the
    ADOPT path.  A user's existing reference-produced store becomes this
    engine's native zoom-partitioned table, so every operator — resume
    anti-join, limits fold, pyramid deepening, incremental update —
    applies to it directly.  Inverse of export_mbtiles: an export->import
    (or import->export) round trip is byte-identical per tile.

    SQLite is single-file/single-reader, so the scan necessarily streams
    driver-side (mirror of the export): zoom-ordered fetchmany batches
    append to the zoom-partitioned store once ~``_FLUSH_BYTES`` of blobs
    have accumulated — driver memory bounded in bytes, not rows, and
    parquet files land z-ordered per zoom like the native writer.  Empty
    tile_alpha blobs (the reference's opaque-elision encoding,
    src/schema.rs:20-33) come back as NULL alpha, matching the native
    store; metadata rows carry over and the limits JSON is recomputed
    from the imported tiles, which have no lineage to take them from."""
    conn = sqlite3.connect(path)
    try:
        cur = conn.cursor()
        meta = dict(cur.execute("SELECT name, value FROM metadata"))
        cols = [r[1] for r in cur.execute("PRAGMA table_info(tiles)")]
        jpeg = "tile_alpha" in cols
        cur.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data"
            + (", tile_alpha" if jpeg else "")
            + " FROM tiles ORDER BY zoom_level, tile_column, tile_row"
        )
        out = os.path.join(root, "store")
        wrote = False
        # accumulate fetchmany batches into one write per ~_FLUSH_BYTES of
        # blobs: a coalesce(1) parquet append per 8k-row batch meant one file
        # per batch AND an O(files) output-dir relisting per append —
        # O(files^2) committer overhead on large archives (ADVICE r5).  The
        # bound is in bytes because tile sizes vary by orders of magnitude.
        recs: list = []
        held = 0

        def _flush():
            nonlocal wrote, recs, held
            if not recs:
                return
            (spark.createDataFrame(recs, _TILE_SCHEMA)
             .coalesce(1)
             .write.mode("append" if wrote else "overwrite")
             .partitionBy("zoom").parquet(out))
            wrote = True
            recs = []
            held = 0

        while True:
            rows = cur.fetchmany(batch)
            if not rows:
                break
            for r in rows:
                alpha = r[4] if jpeg else None
                recs.append((
                    int(r[0]), int(r[1]), int(r[2]),
                    bytes(r[3]) if r[3] is not None else None,
                    bytes(alpha) if alpha else None,  # b"" = opaque-elided
                ))
                held += len(r[3] or b"") + len(alpha or b"")
                if held >= _FLUSH_BYTES:
                    _flush()
        _flush()
        if not wrote:
            (spark.createDataFrame([], _TILE_SCHEMA)
             .write.mode("overwrite").partitionBy("zoom").parquet(out))
    finally:
        conn.close()
    bounds = tuple(meta["bounds"].split(",")) if meta.get("bounds") else None
    limits = {r["zoom"]: r for r in P.limits(read_tiles(spark, root)).collect()}
    write_metadata(
        spark, root, limits,
        name=meta.get("name", "Tiles"), fmt=meta.get("format", "png"),
        min_zoom=int(meta.get("minzoom", 0)),
        max_zoom=int(meta.get("maxzoom", 0)), bounds=bounds,
    )
    return root


def export_mbtiles(
    spark: SparkSession,
    root: str,
    path: str,
) -> str:
    """{root}/store parquet + {root}/metadata -> a consumable .mbtiles file,
    inserted 1024 rows per ``executemany``.

    Format (jpeg => 5-column tiles table with tile_alpha, png => 4-column,
    src/schema.rs:20-33) and the metadata values come from the run's own
    metadata table (plans/lineage.write_metadata).  Known-empty marker rows
    (NULL tile_data) are skipped: MBTiles represents absence by absence.
    Opaque-elided alpha (None) is stored as an empty blob to satisfy the
    reference's NOT NULL column; its decoder treats empty as constant 255.
    """
    meta = {
        r["name"]: r["value"]
        for r in read_rows(spark, os.path.join(root, "metadata"), METADATA_SCHEMA)
    }
    fmt = meta.get("format", "png")
    jpeg = fmt != "png"
    if os.path.exists(path):
        os.remove(path)
    conn = sqlite3.connect(path)
    try:
        cur = conn.cursor()
        # src/schema.rs:40-44 pragmas are perf tuning for the writer; the
        # stdlib defaults are durable-correct, keep journaling simple
        cur.execute("PRAGMA synchronous = OFF")
        cur.execute("PRAGMA journal_mode = MEMORY")
        cur.execute(
            "CREATE TABLE metadata (name TEXT NOT NULL, value TEXT NOT NULL, UNIQUE(name))"
        )
        cur.execute(
            "CREATE TABLE tiles (zoom_level INTEGER NOT NULL,"
            " tile_column INTEGER NOT NULL, tile_row INTEGER NOT NULL,"
            " tile_data BLOB NOT NULL"
            + (", tile_alpha BLOB NOT NULL" if jpeg else "")
            + ")"
        )
        cur.execute(
            "CREATE UNIQUE INDEX idx_tiles ON tiles (zoom_level, tile_column, tile_row)"
        )
        cur.executemany(
            "INSERT INTO metadata (name, value) VALUES (?, ?)",
            [
                ("name", meta.get("name", "Tiles")),
                ("format", fmt),
                ("minzoom", meta.get("minzoom", "0")),
                ("maxzoom", meta.get("maxzoom", "0")),
                ("bounds", meta.get("bounds", "")),
            ],
        )
        tiles = (
            read_tiles(spark, root)
            .where("tile_data IS NOT NULL")
            .select("zoom", "x", "tms_y", "tile_data", "tile_alpha")
            .orderBy("zoom", "x", "tms_y")
        )
        ins = (
            "INSERT INTO tiles (zoom_level, tile_column, tile_row, tile_data"
            + (", tile_alpha) VALUES (?, ?, ?, ?, ?)" if jpeg else ") VALUES (?, ?, ?, ?)")
        )
        buf = []
        for r in tiles.toLocalIterator():
            row = (int(r["zoom"]), int(r["x"]), int(r["tms_y"]), r["tile_data"])
            if jpeg:
                row += (r["tile_alpha"] if r["tile_alpha"] is not None else b"",)
            buf.append(row)
            if len(buf) >= 1024:
                cur.executemany(ins, buf)
                buf.clear()
        if buf:
            cur.executemany(ins, buf)
        conn.commit()
    finally:
        conn.close()
    return path
