"""Structured Streaming ingestion: corpus drops -> live tile counts,
stateful dedup, and micro-batch pyramid maintenance.

The reference is a one-shot CLI (no streaming; SURVEY §2.9) — this is the
engine-side requirement: a 100 TB training-data pipeline ingests WARC drops
continuously.  Three Spark-native shapes:

- ``stream_corpus``        file-source ``readStream`` over a drop directory
                           (same schema as sources.corpus / the input_hint);
- ``streaming_tile_counts``event-time windowed per-cell document counts with
                           a watermark (late data handled by Spark state);
- ``streaming_first_seen`` custom stateful operator via
                           ``applyInPandasWithState``: first-seen-wins exact
                           dedup keyed on the text fingerprint;
- ``run_streaming_pyramid````foreachBatch`` -> accumulate points + call
                           streaming/incremental.incremental_update, so each
                           micro-batch repairs only the dirty subtrees.

All event-time logic uses ``warc_ts``; all geometry goes through the same
Column math as the batch path (one code path for both).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, mercator
from freemap_tiler_spark.functions import text as T
from freemap_tiler_spark.sources.corpus import CORPUS_SCHEMA

def stream_corpus(spark: SparkSession, drop_dir: str, max_files: int = 8) -> DataFrame:
    """readStream over a directory that receives corpus parquet drops."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(drop_dir)
    )


def streaming_tile_counts(
    stream: DataFrame,
    zoom: int = 10,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed per-cell document counts (the streaming rollup):
    geotag extraction + cell assignment are the SAME Column expressions as
    the batch path; the watermark bounds state for late drops."""
    lon, lat = T.geo_lon("text"), T.geo_lat("text")
    cell = cells.cell(
        F.lit(zoom),
        mercator.tile_x(lon, F.lit(zoom)),
        mercator.tile_y(lat, F.lit(zoom)),
    )
    return (
        stream.where(lon.isNotNull() & lat.isNotNull())
        .withColumn("cell", cell)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "cell")
        .agg(F.count("*").alias("docs"))
        .select(F.col("win.start").alias("win_start"), "cell", "docs")
    )


def streaming_first_seen(
    stream: DataFrame,
    watermark: str = "1 hour",
    state_ttl: str | None = "24 hours",
) -> DataFrame:
    """First-seen-wins streaming dedup, keyed on the md5 fingerprint of
    the text — a CUSTOM stateful operator via applyInPandasWithState
    (state = one boolean per fingerprint; rows after the first are
    dropped).  Emits (fingerprint, url, warc_ts) of first occurrences.

    State lifetime: with the default ``state_ttl``, each fingerprint's
    state is dropped via EventTimeTimeout once the watermark passes
    last-seen + TTL — the state store stays bounded on a continuous
    stream, at the cost that a duplicate arriving more than TTL after its
    original is re-emitted (the standard streaming-dedup trade).
    ``state_ttl=None`` keeps EXACT first-seen semantics, which
    necessarily requires unbounded state (one entry per distinct
    fingerprint, forever) — the declared watermark alone never expires
    applyInPandasWithState state.

    .. note:: checkpoint compatibility (ADVICE r4 #3): the state schema
       changed in r4 from ``seen int`` to ``seen int, armed_ms long``.
       Restarting a query from a checkpoint written by the old schema
       fails on state deserialization — upgrades across that boundary
       require a FRESH checkpoint directory (and re-reading the source
       from the desired offset)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = (
        int(pd.Timedelta(state_ttl).total_seconds() * 1000) if state_ttl else None
    )
    keyed = (
        stream.withColumn("fingerprint", T.md5_fingerprint(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .groupBy("fingerprint")
    )
    empty = pd.DataFrame({"fingerprint": [], "url": [], "warc_ts": []})

    def _arm(state: GroupState, max_ev_ms: int | None) -> int:
        if ttl_ms is None:
            return 0
        # sliding TTL armed from max(watermark, group's max event time):
        # during the FIRST micro-batch the watermark is still 0, so
        # arming from the watermark alone would give every backfill
        # fingerprint a timeout near epoch+TTL and expire it as soon as
        # the watermark advances in batch 2 — re-emitting duplicates
        # well inside the documented TTL (ADVICE r3 #1).  Must also stay
        # strictly beyond the current watermark.
        base = state.getCurrentWatermarkMs()
        if max_ev_ms is not None and max_ev_ms > base:
            base = max_ev_ms
        ts = base + ttl_ms + 1
        state.setTimeoutTimestamp(ts)
        return ts

    def _max_ev_ms(pdf, cur: int | None) -> int | None:
        if not len(pdf):
            return cur
        m = int(pd.Timestamp(pdf["warc_ts"].max()).value // 1_000_000)
        return m if cur is None or m > cur else cur

    def _emit_first(key, first_row, state: GroupState, max_ev):
        armed = _arm(state, max_ev)
        state.update((1, armed))
        yield pd.DataFrame(
            {
                "fingerprint": [key[0]],
                "url": [first_row["url"]],
                "warc_ts": [first_row["warc_ts"]],
            }
        )

    def _first(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        if state.exists:
            max_ev = None
            first_row = None
            for pdf in pdfs:  # drain input, tracking event times
                max_ev = _max_ev_ms(pdf, max_ev)
                pdf = pdf.sort_values("warc_ts")
                if len(pdf) and first_row is None:
                    first_row = pdf.iloc[0]
            # Spark never fires the timeout callback for a group that
            # received data this batch, so an arrival in the very batch
            # the state would expire must check the ARMED timestamp
            # itself (kept in state): watermark past it == expired ==
            # this arrival is a re-emitted first-seen (the documented
            # TTL trade), not a suppressed duplicate.
            expired = (
                ttl_ms is not None
                and first_row is not None
                and state.getCurrentWatermarkMs() > state.get[1]
            )
            if expired:
                yield from _emit_first(key, first_row, state, max_ev)
            else:
                _arm(state, max_ev)
                yield empty
            return
        first_row = None
        max_ev = None
        for pdf in pdfs:
            max_ev = _max_ev_ms(pdf, max_ev)
            pdf = pdf.sort_values("warc_ts")
            if len(pdf) and first_row is None:
                first_row = pdf.iloc[0]
        if first_row is None:
            yield empty
            return
        yield from _emit_first(key, first_row, state, max_ev)

    return keyed.applyInPandasWithState(
        _first,
        outputStructType="fingerprint long, url string, warc_ts timestamp",
        stateStructType="seen int, armed_ms long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_streaming_pyramid(
    spark: SparkSession,
    drop_dir: str,
    root: str,
    max_zoom: int,
    min_zoom: int = 0,
    tile_size: int = 64,
    checkpoint: str | None = None,
) -> "StreamingQuery":
    """foreachBatch micro-batch pyramid maintenance: every corpus drop
    appends its points to {root}/points and repairs only the dirty
    subtrees via incremental_update.  The first batch seeds the full
    pyramid (lineage-committed, so a crash resumes)."""
    from freemap_tiler_spark.operators import pyramid as P
    from freemap_tiler_spark.plans import lineage as L
    from freemap_tiler_spark.streaming.incremental import incremental_update

    points_dir = os.path.join(root, "points")

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        pts = batch_df.select(
            T.geo_lon("text").alias("lon"), T.geo_lat("text").alias("lat")
        ).dropna()
        if pts.isEmpty():
            return
        pts.write.mode("append").parquet(points_dir)
        all_pts = spark.read.parquet(points_dir)
        if not L.committed_levels(spark, root):
            # first drop: build + commit the full pyramid
            leaves = P.rasterize_level(
                P.assign_cells(all_pts, "lon", "lat", max_zoom), tile_size
            )
            L.write_pyramid(spark, leaves, root, max_zoom, min_zoom,
                            tile_size, resume=False)
        else:
            incremental_update(spark, all_pts, pts, root, max_zoom,
                               min_zoom, tile_size)

    stream = stream_corpus(spark, drop_dir)
    writer = stream.writeStream.foreachBatch(_batch).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
