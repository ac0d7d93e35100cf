"""Sources: deterministic synthetic corpora, raster blocks, driver tables."""

from freemap_tiler_spark.sources.corpus import geotagged_corpus
from freemap_tiler_spark.sources.raster_blocks import raster_blocks
from freemap_tiler_spark.sources.tables import load_table

__all__ = ["geotagged_corpus", "raster_blocks", "load_table"]
