"""Streaming surface.

The reference is a single-shot batch job with NO streaming operators
(verified in SURVEY.md §2.9: its channels are intra-process pipelining, not
event-time streaming).  The engine therefore expresses the reference's only
stream-like semantic — resumability — as deterministic batch jobs + the
``plans.lineage`` commit table.

For incremental ingest (new WARC drops appending to the corpus), two
modules:

- ``streaming.incremental``: deterministic micro-batch driver — only the
  tiles whose inputs changed are recomputed, per-level writes are
  swapped in and lineage-committed;
- ``streaming.ingest``: Structured Streaming — ``readStream`` over a drop
  directory and an event-time windowed per-cell rollup with a watermark
  (the contract's ``stream_rollup`` query).
"""

from freemap_tiler_spark.streaming.incremental import incremental_update
from freemap_tiler_spark.streaming.ingest import stream_corpus, streaming_tile_counts

__all__ = ["incremental_update", "stream_corpus", "streaming_tile_counts"]
