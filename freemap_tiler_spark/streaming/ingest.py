"""Structured Streaming ingestion: corpus drops -> live tile counts.

The reference is a one-shot CLI (no streaming; SURVEY §2.9).  The one
streaming shape kept here is the event-time rollup the contract's
``stream_rollup`` query runs:

- ``stream_corpus``         file-source ``readStream`` over a drop directory
                            (same schema as sources.corpus / the input_hint);
- ``streaming_tile_counts`` event-time windowed per-cell document counts with
                            a watermark (late data handled by Spark state).

Incremental pyramid maintenance is the batch ``streaming.incremental``.
All event-time logic uses ``warc_ts``; all geometry goes through the same
Column math as the batch path (one code path for both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, mercator
from freemap_tiler_spark.functions import text as T
from freemap_tiler_spark.sources.corpus import CORPUS_SCHEMA

FILES_PER_TRIGGER = 8


def stream_corpus(spark: SparkSession, drop_dir: str) -> DataFrame:
    """readStream over a directory that receives corpus parquet drops."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(drop_dir)
    )


def streaming_tile_counts(
    stream: DataFrame,
    zoom: int = 10,
    window: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed per-cell document counts (the streaming rollup):
    geotag extraction + cell assignment are the SAME Column expressions as
    the batch path; a 30-minute watermark bounds state for late drops."""
    lon, lat = T.geo_lon("text"), T.geo_lat("text")
    located = stream.where(lon.isNotNull() & lat.isNotNull())
    return (
        cells.with_cell(located, zoom, *mercator.located_tiles(lon, lat, F.lit(zoom)), "cell")
        .withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", window).alias("win"), "cell")
        .agg(F.count("*").alias("docs"))
        .select(F.col("win.start").alias("win_start"), "cell", "docs")
    )
