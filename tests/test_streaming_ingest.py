"""Structured Streaming surface: windowed rollup, stateful dedup,
foreachBatch pyramid maintenance (availableNow micro-batches)."""

import os

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.sources.corpus import geotagged_corpus
from freemap_tiler_spark.streaming import ingest as SI
from oracles import read_pyramid

pytestmark = pytest.mark.spark


def _drop(spark, tmp_path, name, lo, hi):
    d = str(tmp_path / "drops")
    geotagged_corpus(spark, hi).where(
        F.xxhash64("url").isNotNull() & (F.col("url") >= "")
    ).limit(0)  # no-op keeps lints quiet
    df = geotagged_corpus(spark, hi)
    # slice rows [lo, hi) deterministically via the embedded row id
    df = df.where(F.regexp_extract("text", r"p(\d+) ", 1).cast("long") >= lo)
    df.coalesce(1).write.mode("append").parquet(d)
    return d


def test_streaming_tile_counts_match_batch(spark, tmp_path):
    d = _drop(spark, tmp_path, "a", 0, 400)
    # complete mode + memory sink: append would hold back windows the
    # watermark has not passed (availableNow terminates before any later
    # event time arrives to close them)
    q = (
        SI.streaming_tile_counts(SI.stream_corpus(spark, d), zoom=8)
        .writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .format("memory")
        .queryName("tile_counts")
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("tile_counts").groupBy("cell").agg(F.sum("docs").alias("docs"))
    # batch twin over the same files
    from freemap_tiler_spark.functions import cells, mercator
    from freemap_tiler_spark.functions import text as T

    src = spark.read.parquet(d)
    lon, lat = T.geo_lon("text"), T.geo_lat("text")
    want = (
        src.where(lon.isNotNull())
        .select(
            cells.cell(
                F.lit(8), mercator.tile_x(lon, F.lit(8)), mercator.tile_y(lat, F.lit(8))
            ).alias("cell")
        )
        .groupBy("cell")
        .count()
    )
    g = {r["cell"]: r["docs"] for r in got.collect()}
    w = {r["cell"]: r["count"] for r in want.collect()}
    assert g == w


def test_streaming_first_seen_dedup(spark, tmp_path):
    d = str(tmp_path / "drops2")
    base = geotagged_corpus(spark, 50)
    base.coalesce(1).write.mode("append").parquet(d)
    # second drop: same 50 texts again under different urls (duplicates)
    dup = base.withColumn("url", F.concat(F.lit("dup-"), "url")).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 MINUTE")
    )
    dup.coalesce(1).write.mode("append").parquet(d)
    q = (
        SI.streaming_first_seen(SI.stream_corpus(spark, d, max_files=1))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", str(tmp_path / "seen"))
        .start()
    )
    q.awaitTermination(180)
    seen = spark.read.parquet(str(tmp_path / "seen"))
    assert seen.count() == 50                     # one row per distinct text
    assert seen.select("fingerprint").distinct().count() == 50


def test_streaming_pyramid_matches_batch(spark, tmp_path):
    from freemap_tiler_spark.operators import pyramid as P
    from freemap_tiler_spark.plans import lineage as L
    from freemap_tiler_spark.functions import text as T

    d = str(tmp_path / "drops3")
    geotagged_corpus(spark, 300).coalesce(1).write.mode("append").parquet(d)
    root = str(tmp_path / "pyr")
    q = SI.run_streaming_pyramid(
        spark, d, root, max_zoom=6, min_zoom=0, tile_size=32,
        checkpoint=str(tmp_path / "ck3"),
    )
    q.awaitTermination(180)
    # second drop arrives; restart the availableNow query
    extra = geotagged_corpus(spark, 400).where(
        F.regexp_extract("text", r"p(\d+) ", 1).cast("long") >= 300
    )
    extra.coalesce(1).write.mode("append").parquet(d)
    q = SI.run_streaming_pyramid(
        spark, d, root, max_zoom=6, min_zoom=0, tile_size=32,
        checkpoint=str(tmp_path / "ck3"),
    )
    q.awaitTermination(180)
    got = {
        r.cell: bytes(r.payload) for r in read_pyramid(spark, root).collect()
    }
    # batch twin over all 400 rows
    pts = geotagged_corpus(spark, 400).select(
        T.geo_lon("text").alias("lon"), T.geo_lat("text").alias("lat")
    ).dropna()
    want_df = P.build_pyramid(pts, max_zoom=6, min_zoom=0, tile_size=32)
    want = {r.cell: bytes(r.payload) for r in want_df.collect()}
    assert got == want


def test_first_seen_ttl_expiry_reemits(spark, tmp_path):
    """EventTimeTimeout TTL path: a duplicate arriving AFTER the TTL has
    passed (watermark > last-seen + TTL) is re-emitted because its state
    expired; a duplicate inside the TTL stays suppressed."""
    import datetime as dt

    d = str(tmp_path / "drops")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def drop(rows):
        spark.createDataFrame(
            [(u, ts, None, tx, "en") for u, ts, tx in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).coalesce(1).write.mode("append").parquet(d)

    # batch 1: A and B first seen at t0
    drop([("u1", t0, "doc A"), ("u2", t0, "doc B")])
    # batch 2 (event time t0+3h): dup of A (inside nothing yet - the
    # watermark at batch 2 start is t0 - 10m, so A's state is alive ->
    # suppressed), plus C (new). Watermark then advances to ~t0+2h50m.
    drop([("u3", t0 + dt.timedelta(hours=3), "doc A"),
          ("u4", t0 + dt.timedelta(hours=3), "doc C")])
    # batch 3 (event time t0+9h): dup of B. By now the watermark
    # (~t0+2h50m) is past B's state TTL (t0 + 2h) -> state expired -> B
    # RE-emitted.
    drop([("u5", t0 + dt.timedelta(hours=9), "doc B")])

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        ).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = SI.streaming_first_seen(stream, watermark="10 minutes", state_ttl="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ttl"))
        .trigger(availableNow=True)
        .format("memory").queryName("ttl_dedup").start()
    )
    q.awaitTermination(180)
    rows = spark.table("ttl_dedup").collect()
    urls = sorted(r.url for r in rows)
    # u1 (A first), u2 (B first), u4 (C first), u5 (B re-emitted after
    # TTL); u3 (A dup inside TTL) suppressed
    assert urls == ["u1", "u2", "u4", "u5"], urls


def test_first_seen_ttl_survives_first_batch_arming(spark, tmp_path):
    """ADVICE r3 #1 regression: state first created in batch 1 (when the
    watermark is still 0) must be armed from the EVENT time, not the
    epoch watermark — otherwise every backfill fingerprint expires the
    moment the watermark first advances, and an in-TTL duplicate in a
    later batch is wrongly re-emitted."""
    import datetime as dt

    d = str(tmp_path / "drops_arm")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def drop(rows):
        spark.createDataFrame(
            [(u, ts, None, tx, "en") for u, ts, tx in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        ).coalesce(1).write.mode("append").parquet(d)

    # batch 1: A first seen at t0 (watermark is 0 during this batch)
    drop([("u1", t0, "doc A")])
    # batch 2: unrelated C advances the watermark to ~t0+2h50m; A gets no
    # input rows, so only the timeout decides whether its state survives
    drop([("u2", t0 + dt.timedelta(hours=3), "doc C")])
    # batch 3: dup of A at t0+4h — well inside the 24h TTL
    drop([("u3", t0 + dt.timedelta(hours=4), "doc A")])

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        ).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = SI.streaming_first_seen(stream, watermark="10 minutes", state_ttl="24 hours")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_arm"))
        .trigger(availableNow=True)
        .format("memory").queryName("arm_dedup").start()
    )
    q.awaitTermination(180)
    urls = sorted(r.url for r in spark.table("arm_dedup").collect())
    # u3 (A dup, inside TTL) must stay suppressed
    assert urls == ["u1", "u2"], urls
