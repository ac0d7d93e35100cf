"""Structured Streaming surface: the event-time windowed rollup over an
availableNow micro-batch stream."""

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.sources.corpus import geotagged_corpus
from freemap_tiler_spark.streaming import ingest as SI

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
