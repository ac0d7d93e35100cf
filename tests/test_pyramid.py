"""End-to-end pyramid tests (SURVEY §5.3) + text byte-identity (§5.5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, text
from freemap_tiler_spark.operators import pyramid
from freemap_tiler_spark.sources.corpus import geotagged_corpus

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def points(spark):
    corpus = geotagged_corpus(spark, 1500)
    return corpus.select(
        text.geo_lon("text").alias("lon"), text.geo_lat("text").alias("lat")
    ).dropna()


def test_tile_key_set_matches_numpy_oracle(spark, points):
    """(a) exact tile key set per zoom vs single-process numpy oracle."""
    pdf = points.toPandas()
    from freemap_tiler_spark.functions import mercator

    levels = pyramid.build_pyramid(points, max_zoom=7, min_zoom=0, tile_size=32)
    got = pyramid.with_tile_keys(levels).select("zoom", "x", "y").toPandas()
    tx, ty = mercator.np_lonlat_to_tile(pdf.lon.values, pdf.lat.values, 7)
    for z in range(7, -1, -1):
        exp = set(zip((tx >> (7 - z)).tolist(), (ty >> (7 - z)).tolist()))
        g = got[got.zoom == z]
        assert set(zip(g.x.tolist(), g.y.tolist())) == exp, z


def test_parent_pixels_match_numpy_oracle(spark, points):
    """(b) parent pixel values vs an independent numpy mosaic+downsample."""
    from freemap_tiler_spark.functions.resample import downsample2x, mosaic_children

    t = 32
    levels = pyramid.build_pyramid(points, max_zoom=6, min_zoom=5, tile_size=t)
    rows = levels.collect()
    tiles = {r.cell: np.frombuffer(r.payload, np.uint8) for r in rows}
    parents = [c for c in tiles if (c >> 58) == 5]
    assert parents
    for p in parents:
        kids = {}
        for i in range(4):
            ch = int(cells.np_children(np.array([p]))[0, i])
            if ch in tiles:
                kids[i] = tiles[ch]
        exp = downsample2x(mosaic_children(kids, t, 2)).reshape(-1)
        assert (tiles[p] == exp).all()


def test_levels_per_shuffle_invariant(spark, points):
    """compose_pyramid's shuffle-amortization bound must not change any
    byte."""
    leaves = pyramid.rasterize_level(pyramid.assign_cells(points, "lon", "lat", 6), 32)
    a = pyramid.compose_pyramid(leaves, 6, 0, 32, 2, levels_per_shuffle=1)
    b = pyramid.compose_pyramid(leaves, 6, 0, 32, 2, levels_per_shuffle=4)
    pa = {r.cell: bytes(r.payload) for r in a.collect()}
    pb = {r.cell: bytes(r.payload) for r in b.collect()}
    assert pa == pb


def test_limits_match_keys(spark, points):
    levels = pyramid.build_pyramid(points, max_zoom=5, tile_size=32)
    keyed = pyramid.with_tile_keys(levels).cache()
    lim = {r.zoom: r for r in pyramid.limits(keyed).collect()}
    keys = keyed.select("zoom", "x", "tms_y").toPandas()
    for z, g in keys.groupby("zoom"):
        assert lim[z].min_x == g.x.min() and lim[z].max_x == g.x.max()
        assert lim[z].min_y == g.tms_y.min() and lim[z].max_y == g.tms_y.max()


def test_text_byte_identity(spark):
    """input_hint invariant: text carried byte-identical per url through
    the pipeline (extraction never mutates the column)."""
    corpus = geotagged_corpus(spark, 300)
    before = {r.url: r.text for r in corpus.collect()}
    piped = (
        corpus.withColumn("lat", text.geo_lat("text"))
        .withColumn("lon", text.geo_lon("text"))
        .withColumn("quality", text.quality_score(F.col("text")))
        .withColumn("fp", text.md5_fingerprint(F.col("text")))
    )
    after = {r.url: r.text for r in piped.collect()}
    assert before == after


def test_empty_input(spark, points):
    empty = points.where(F.lit(False))
    assert pyramid.build_pyramid(empty, max_zoom=4, tile_size=32).count() == 0


# (cores, approx_tiles) -> the rounds compose_pyramid picks for
# corpus_joins' parameters (z10 -> 0, 64 px, 2 bands,
# levels_per_shuffle=5), recorded from the compose loop before its depth
# rule became round_depth
CORPUS_JOINS_ROUNDS = [
    (1, None, [5, 5]), (1, 30, [1, 9]), (1, 500, [3, 7]), (1, 5000, [5, 5]),
    (1, 100000, [6, 1, 3]), (1, 10**7, [6, 4]),
    (4, None, [5, 5]), (4, 0, [10]), (4, 30, [10]), (4, 500, [2, 8]),
    (4, 5000, [4, 6]), (4, 100000, [6, 4]), (4, 10**7, [6, 3, 1]),
    (32, 500, [10]), (32, 5000, [2, 8]), (32, 100000, [4, 6]),
    (32, 10**7, [6, 2, 2]),
]


@pytest.mark.parametrize("cores, approx, rounds", CORPUS_JOINS_ROUNDS)
def test_compose_pyramid_rounds(spark, monkeypatch, cores, approx, rounds):
    """round_depth keeps compose_pyramid's rounds: the pixel-budget clamp,
    thin-level deepening (past levels_per_shuffle) and the shrink that
    keeps >= 4 groups per core."""
    from unittest import mock

    ks = []

    def record(current, k, tile_size, bands):
        ks.append(k)
        return mock.MagicMock()

    monkeypatch.setattr(pyramid, "compose_round", record)
    level = mock.MagicMock()
    level.sparkSession.sparkContext.defaultParallelism = cores
    pyramid.compose_pyramid(level, 10, 0, 64, 2, levels_per_shuffle=5,
                            round_cache=[], approx_tiles=approx)
    assert ks == rounds


def test_round_depth_pixel_budget():
    """SURVEY §7(5): one compose group holds a 4^k subtree in memory, so k
    is clamped to 4^k * tile_size^2 * bands <= 64 MB; given the level's
    exact tile count (write_pyramid's rounds), a thin level deepens and a
    round that would leave fewer than min_groups groups shrinks."""
    rd = pyramid.round_depth
    assert rd(5, 256, 4) == 4     # 4^5 would be 268 MB
    assert rd(5, 64, 2) == 5      # small tiles: unclamped
    assert rd(3, 1024, 4) == 2    # 1024px RGBA: k=2 is 67MB
    assert rd(8, 4096, 4) == 1    # never below 1
    assert rd(10, 256, 4, n=0, min_groups=16) == 10     # empty level: one round
    assert rd(10, 256, 4, n=20, min_groups=16) == 10    # thin level deepens
    assert rd(10, 256, 4, n=100, min_groups=16) == 1    # 100 / 4 >= 16 groups
    assert rd(10, 256, 4, n=5000, min_groups=16) == 4   # 5000 / 4^4 >= 16 groups
    assert rd(1, 256, 4, n=10**6, min_groups=16) == 1
