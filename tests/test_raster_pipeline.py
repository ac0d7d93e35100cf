"""Raster path parity: validation, nodata, warp, full pipeline, store."""

import math
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark import pipeline as PL
from freemap_tiler_spark.functions import cells, mercator
from freemap_tiler_spark.operators import raster_ops
from freemap_tiler_spark.pipeline import run_tiler
from freemap_tiler_spark.plans import fsutil, store
from freemap_tiler_spark.sources.geojson import parse_geojson_polygon, polygon_df
from freemap_tiler_spark.sources.raster_blocks import block_pixels, raster_blocks, source_bbox

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def blocks(spark):
    return raster_blocks(spark, grid=2, width=64, height=64, bands=4).cache()


def test_validate_blocks():
    """The band-layout check run_tiler applies to the distinct band counts
    of its blocks (S2): one supported count names the layout."""
    assert raster_ops.layout_name([4]) == "RGBA"
    assert raster_ops.layout_name([1]) == "G"
    with pytest.raises(ValueError, match="mixed band counts"):
        raster_ops.layout_name([3, 4])
    with pytest.raises(ValueError, match="unsupported band count 5"):
        raster_ops.layout_name([5])
    with pytest.raises(ValueError, match="no blocks"):
        raster_ops.layout_name([])


def test_run_tiler_on_empty_blocks_says_so(spark, blocks, tmp_path):
    """A source with no blocks fails with that reason, not as a 'mixed
    band counts []' layout error."""
    with pytest.raises(ValueError, match="no blocks"):
        run_tiler(spark, blocks.where(F.lit(False)), str(tmp_path / "empty"),
                  max_zoom=9, min_zoom=8, tile_size=32)


def test_block_pixels_law():
    img = block_pixels(1, 2, 8, 8, 4)
    # band k at global pixel (x,y) = (x*3 + y*5 + k*17) % 256 except alpha
    assert img[0, 0, 0] == (8 * 3 + 16 * 5 + 0) % 256
    assert img[3, 2, 2] == ((8 + 2) * 3 + (16 + 3) * 5 + 2 * 17) % 256


def test_mask_nodata(spark):
    df = raster_blocks(spark, grid=1, width=8, height=8, bands=4).withColumn(
        "nodata", F.array(F.lit(0), F.lit(None).cast("int"), F.lit(None).cast("int"),
                          F.lit(None).cast("int"))
    )
    out = raster_ops.mask_nodata(df).first()
    img = np.frombuffer(out.data, np.uint8).reshape(-1, 4)
    src = block_pixels(0, 0, 8, 8, 4).reshape(-1, 4)
    hit = src[:, 0] == 0
    assert (img[hit] == 0).all()
    assert (img[~hit] == src[~hit]).all()


def test_warp_identity_preserves_values(spark, blocks):
    """EPSG:3857 fast path: tile pixels come from the closed-form law."""
    tiles = raster_ops.warp_blocks_to_tiles(blocks, zoom=9, tile_size=32)
    rows = tiles.collect()
    assert len(rows) > 0
    covered = {(int(z), int(x), int(y)) for z, x, y in zip(*cells.np_cell_zxy(
        np.array([r.cell for r in rows])))}
    assert all(z == 9 for z, _, _ in covered)
    # at least one tile has nonzero data
    assert any(np.frombuffer(r.payload, np.uint8).max() > 0 for r in rows)


def test_warp_4326_path(spark):
    df = raster_blocks(spark, grid=1, width=32, height=32, bands=2).withColumn(
        "crs", F.lit("EPSG:4326"))
    # place geo_transform in degrees over Slovakia
    df = df.withColumn(
        "geo_transform",
        F.array(F.lit(17.0), F.lit(0.01), F.lit(0.0), F.lit(49.0), F.lit(0.0), F.lit(-0.01)),
    )
    tiles = raster_ops.warp_blocks_to_tiles(df, zoom=10, tile_size=32)
    assert tiles.count() > 0


def test_warp_4326_lanczos_values(spark):
    """4326 downscale warp reproduces a linear ramp: catches the kernel
    stretch units bug (span/t is mercator METERS, gt[1] DEGREES — the
    analytic ratio overstretched the kernel ~1e5x, blurring tiles to a
    near-uniform average; the map-derived _axis_scale fixes it)."""
    from freemap_tiler_spark.functions import mercator as M

    w = h = 256
    img = np.zeros((h, w, 2), np.uint8)
    img[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]  # ramp = gx
    img[:, :, 1] = 255
    gt = [17.0, 0.01, 0.0, 49.0, 0.0, -0.01]
    df = spark.createDataFrame(
        [(0, 0, w, h, 2, bytearray(img.tobytes()), gt, "EPSG:4326", [None, None])],
        "block_x int, block_y int, width int, height int, bands int, "
        "data binary, geo_transform array<double>, crs string, nodata array<int>",
    )
    zoom, t = 6, 256  # ~2.2 source px per target px: exercises the stretch
    rows = raster_ops.warp_blocks_to_tiles(df, zoom=zoom, tile_size=t).collect()
    assert rows
    span = M.WORLD / (1 << zoom)
    errs = []
    for r in rows:
        _, tx, ty = cells.np_cell_zxy(np.array([r.cell]))
        tx, ty = int(tx[0]), int(ty[0])
        pix = np.frombuffer(r.payload, np.uint8).reshape(t, t, 2)
        mx = (tx * t + np.arange(t) + 0.5) * span / t - M.ORIGIN
        sx = (np.degrees(mx / M.R) - gt[0]) / gt[1] - 0.5
        ok = (sx > 10) & (sx < 245)  # away from clip edges
        if not ok.any():
            continue
        got = pix[:, ok, 0][pix[:, ok, 1] == 255].astype(float)
        exp = np.broadcast_to(sx[ok][None, :], (t, int(ok.sum())))[
            pix[:, ok, 1] == 255
        ]
        if got.size:
            errs.append(np.abs(got - exp))
    err = np.concatenate(errs)
    assert err.size > 1000
    assert err.mean() < 2.0, f"mean abs ramp error {err.mean():.2f}"


def test_tile_cover_counts(spark):
    from freemap_tiler_spark.functions import mercator

    bbox = (-mercator.ORIGIN, -mercator.ORIGIN, mercator.ORIGIN, mercator.ORIGIN)
    assert raster_ops.tile_cover(spark, bbox, 3).count() == 64


def test_empty_markers(spark, blocks):
    cover = raster_ops.tile_cover(spark, source_bbox(blocks), 9)
    tiles = raster_ops.warp_blocks_to_tiles(blocks, 9, 32)
    markers = raster_ops.empty_markers(cover, tiles)
    assert markers.count() == cover.count() - tiles.count()
    assert markers.where(F.length("payload") > 0).count() == 0


def test_geojson_parse_and_df(spark):
    gj = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {
                "type": "Polygon",
                "coordinates": [
                    [[17.0, 48.0], [18.0, 48.0], [18.0, 49.0], [17.0, 49.0], [17.0, 48.0]],
                    [[17.2, 48.2], [17.4, 48.2], [17.4, 48.4], [17.2, 48.4], [17.2, 48.2]],
                ],
            },
        }],
    }
    rings = parse_geojson_polygon(gj)
    assert len(rings) == 2 and len(rings[0][0]) == 5
    df = polygon_df(spark, rings)
    assert df.count() == 2


def test_full_pipeline_with_resume_and_store(spark, blocks, capfd):
    root = tempfile.mkdtemp(prefix="tiler_")
    stages = ("rasterize", "compose", "encode_write", "metadata")
    try:
        counts = run_tiler(
            spark, blocks, root, max_zoom=9, min_zoom=6, tile_size=32,
        )
        assert set(counts) == {9, 8, 7, 6}
        # live progress (A4): every stage prints its final 100% line (the
        # 10-s poller adds more on long stages)
        err = capfd.readouterr().err
        for s in stages:
            assert f"[tiler] {s}: 100% tasks" in err, s
        st = store.read_tiles(spark, root)
        assert st.count() == sum(counts.values())
        # store schema matches the MBTiles shape
        assert {f.name for f in st.schema.fields} >= {"zoom", "x", "tms_y", "tile_data"}
        # metadata written
        meta = {r.name: r.value for r in spark.read.parquet(f"{root}/metadata").collect()}
        assert meta["format"] == "png" and "limits" in meta
        # metrics written
        from freemap_tiler_spark.plans import fsutil
        from freemap_tiler_spark.plans.metrics import METRICS_SCHEMA
        metrics = fsutil.read_rows(spark, f"{root}/_metrics", METRICS_SCHEMA)
        assert set(stages) <= {r["stage"] for r in metrics}
        # the rasterize row counts the leaf tiles (the max_zoom level)
        leaf_rows = [r["rows"] for r in metrics if r["stage"] == "rasterize"]
        assert leaf_rows == [counts[9]]
        # rerun == resume: counts unchanged
        counts2 = run_tiler(
            spark, blocks, root, max_zoom=9, min_zoom=6, tile_size=32,
        )
        assert counts2 == counts
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _store_rows(spark, root):
    """Every store row as sorted (zoom, x, tms_y, tile_data, tile_alpha)
    tuples: duplicates and byte differences both show."""
    return sorted(
        (r.zoom, r.x, r.tms_y,
         None if r.tile_data is None else bytes(r.tile_data),
         None if r.tile_alpha is None else bytes(r.tile_alpha))
        for r in store.read_tiles(spark, root).collect()
    )


def test_run_tiler_job_budget(spark, blocks):
    """Spark jobs per run_tiler call, counted by the status tracker.  Each
    level is encoded once, as it lands, with no range shuffle whose
    sampling job re-runs the encode; each level's commit row is observed
    on its own write and the small driver-side tables are written and read
    by the driver with no Spark job; parquet read-backs name their schema
    instead of running a footer-inference job.  48 jobs before encode was
    fused into the level loop, 40 after, 33 with schema-given read-backs,
    31 once write_pyramid composes 9 -> 6 in one round (round_depth) and
    no longer re-reads each round's source level into the cached round,
    29 once the metrics sink stopped writing a ``_progress`` table, 13 once
    the commits were observed and the small tables left Spark."""
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="tiler_jobs_")
    kw = dict(max_zoom=9, min_zoom=6, tile_size=32)
    blocks.count()  # the fixture's cache is built outside the budget
    try:
        sc.setJobGroup("run_tiler_budget", "job budget")
        run_tiler(spark, blocks, root, resume=False, **kw)
        # a resume of the committed run reads its lineage on the driver (9
        # jobs when a Spark read inferred its schema, 8 while the metrics
        # sink also wrote a _progress table, 7 until the small tables left
        # Spark)
        sc.setJobGroup("run_tiler_resume_budget", "resume job budget")
        run_tiler(spark, blocks, root, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(root, ignore_errors=True)
    jobs = sc.statusTracker().getJobIdsForGroup("run_tiler_budget")
    assert len(jobs) <= 13, f"run_tiler ran {len(jobs)} Spark jobs"
    jobs = sc.statusTracker().getJobIdsForGroup("run_tiler_resume_budget")
    assert len(jobs) <= 2, f"the resumed run_tiler ran {len(jobs)} Spark jobs"


def test_run_tiler_rejects_unknown_format_and_resampling(spark, blocks, tmp_path):
    """A format other than png/jpeg used to write JPEG tiles labelled with
    that format, and an unknown resampling silently became Lanczos: both
    now raise ValueError before any Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("run_tiler_rejects", "argument checks")
    try:
        for kw in (dict(fmt="PNG"), dict(fmt="webp"), dict(resampling="cubic")):
            with pytest.raises(ValueError, match="fmt must be|resampling must be"):
                run_tiler(spark, blocks, str(tmp_path), max_zoom=9, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("run_tiler_rejects") == []


def test_tiler_png_shaped_run_job_budget(spark, tmp_path):
    """A fresh run of the benchmark's tiler shape (a 513 px square RGBA
    raster, zoom 10 -> 9, 256 px tiles) runs the layout/bbox aggregate (2
    jobs) and, per level, its write (2 jobs) and its store encode (1): 18
    jobs while each commit re-read its level, the limits were collected
    over the written pyramid and the small tables were Spark writes."""
    sc = spark.sparkContext
    raster = raster_blocks(spark, grid=3, width=171, height=171, bands=4)
    try:
        sc.setJobGroup("tiler_png_budget", "tiler_png job budget")
        counts = run_tiler(spark, raster, str(tmp_path / "png"), max_zoom=10,
                           min_zoom=9, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(counts) == {10, 9} and counts[10] > counts[9] > 0
    jobs = sc.statusTracker().getJobIdsForGroup("tiler_png_budget")
    assert len(jobs) <= 8, f"run_tiler ran {len(jobs)} Spark jobs"


def test_metadata_limits_equal_the_pyramids(spark, blocks, tmp_path):
    """The metadata ``limits`` JSON, folded from the levels' commit rows,
    equals P.limits over every level of the pyramid: after a fresh run,
    after a run to min_zoom=8 resumed to 6 (the skipped levels' limits come
    from the first run's lineage), and after an import_mbtiles adopt
    (which has no lineage).  A level with no tiles has no entry."""
    import json

    from freemap_tiler_spark.operators import pyramid as P
    from freemap_tiler_spark.plans.mbtiles import export_mbtiles, import_mbtiles
    from oracles import read_pyramid

    def written(root):
        meta = {r.name: r.value for r in spark.read.parquet(f"{root}/metadata").collect()}
        return json.loads(meta["limits"])

    def folded(keyed):
        return {str(r["zoom"]): {k: r[k] for k in ("min_x", "max_x", "min_y", "max_y")}
                for r in P.limits(keyed).collect()}

    kw = dict(max_zoom=9, tile_size=32)
    fresh, part, adopt, empty = (str(tmp_path / d) for d in ("fresh", "part", "adopt", "empty"))
    run_tiler(spark, blocks, fresh, min_zoom=6, resume=False, **kw)
    run_tiler(spark, blocks, part, min_zoom=8, **kw)
    run_tiler(spark, blocks, part, min_zoom=6, **kw)
    import_mbtiles(spark, export_mbtiles(spark, fresh, str(tmp_path / "f.mbtiles")), adopt)
    want = folded(P.with_tile_keys(read_pyramid(spark, fresh)))
    assert sorted(want, key=int) == ["6", "7", "8", "9"]
    assert written(fresh) == written(part) == want
    assert written(adopt) == folded(store.read_tiles(spark, adopt)) == want
    # a polygon away from the raster leaves every level without tiles
    far = {"type": "Polygon", "coordinates": [[
        [-60.0, -30.0], [-59.0, -30.0], [-59.0, -29.0], [-60.0, -29.0], [-60.0, -30.0]]]}
    counts = run_tiler(spark, blocks, empty, min_zoom=8, polygon=far, **kw)
    assert counts == {9: 0, 8: 0}
    assert written(empty) == folded(P.with_tile_keys(read_pyramid(spark, empty))) == {}


def test_resume_deepens_fused_store(spark, blocks, tmp_path):
    """A resumed run encodes only the levels it writes: running to
    min_zoom=8 and then resuming to min_zoom=6 gives the store of one fresh
    min_zoom=6 run, tile for tile and byte for byte."""
    kw = dict(max_zoom=9, tile_size=32)
    part, fresh = str(tmp_path / "part"), str(tmp_path / "fresh")
    run_tiler(spark, blocks, part, min_zoom=8, **kw)
    run_tiler(spark, blocks, part, min_zoom=6, **kw)
    run_tiler(spark, blocks, fresh, min_zoom=6, resume=False, **kw)
    assert _store_rows(spark, part) == _store_rows(spark, fresh)


def test_resume_reencodes_missing_store_level(spark, blocks, tmp_path, monkeypatch):
    """A committed level whose store directory is missing (a root written
    before encode ran per level, or a deleted directory) is re-encoded from
    its pyramid parquet on resume; every skipped level costs one
    existence probe of its store directory."""
    root = str(tmp_path / "root")
    kw = dict(max_zoom=9, min_zoom=6, tile_size=32)
    run_tiler(spark, blocks, root, **kw)
    before = _store_rows(spark, root)
    shutil.rmtree(f"{root}/store/zoom=7")
    probes = []
    real_exists = fsutil.fs_exists

    def counting_exists(s, path):
        probes.append(path)
        return real_exists(s, path)

    monkeypatch.setattr(fsutil, "fs_exists", counting_exists)
    run_tiler(spark, blocks, root, **kw)
    assert sorted(p for p in probes if "/store/" in p) == [
        f"{root}/store/zoom={z}" for z in (6, 7, 8, 9)
    ]
    assert _store_rows(spark, root) == before


def test_pipeline_polygon_prune(spark, blocks):
    root = tempfile.mkdtemp(prefix="tiler_")
    try:
        # tiny polygon inside the raster: fewer leaf tiles than unpruned
        # raster extent is lon 16.80-16.91, lat 48.95-49.03; prune to a corner
        gj = {"type": "Polygon", "coordinates": [[
            [16.80, 48.95], [16.84, 48.95], [16.84, 48.98], [16.80, 48.98], [16.80, 48.95]]]}
        counts = run_tiler(
            spark, blocks, root, max_zoom=9, min_zoom=8, tile_size=32,
            polygon=gj, resume=False,
        )
        root2 = tempfile.mkdtemp(prefix="tiler2_")
        counts_all = run_tiler(
            spark, blocks, root2, max_zoom=9, min_zoom=8, tile_size=32, resume=False,
        )
        assert 0 < counts[9] < counts_all[9]
        shutil.rmtree(root2, ignore_errors=True)
        # the same rings passed as a polygon layer give the same store
        root3 = tempfile.mkdtemp(prefix="tiler3_")
        layer = polygon_df(spark, parse_geojson_polygon(gj))
        counts_layer = run_tiler(
            spark, blocks, root3, max_zoom=9, min_zoom=8, tile_size=32,
            polygon=layer, resume=False,
        )
        assert counts_layer == counts
        assert _store_rows(spark, root3) == _store_rows(spark, root)
        shutil.rmtree(root3, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_pole_reaching_polygon_keeps_every_tile(spark, blocks, tmp_path):
    """A bounding polygon that reaches a pole covers the whole tile grid.
    Unclamped, lat -90 projects to y = -inf: the prune kept no tile of a
    GeoJSON bound and raised on a polygon layer."""
    world = {"type": "Polygon", "coordinates": [[
        [-180, -90], [180, -90], [180, 90], [-180, 90], [-180, -90]]]}
    o = mercator.ORIGIN
    cover = raster_ops.tile_cover(spark, (-o, -o, o, o), 1)
    layer = polygon_df(spark, parse_geojson_polygon(world))
    kept = PL.prune_cover_by_polygon_layer(cover, layer, 1)
    assert sorted(kept.collect()) == sorted(cover.collect())
    assert cover.count() == 4
    kw = dict(max_zoom=9, min_zoom=8, tile_size=32, resume=False)
    bounded = run_tiler(spark, blocks, str(tmp_path / "world"), polygon=world, **kw)
    assert bounded == run_tiler(spark, blocks, str(tmp_path / "all"), **kw)


def test_warp_lanczos_aligned_identity(spark):
    """When source pixels coincide exactly with target-tile pixels, the
    Lanczos weights collapse to a delta and the warp must copy values
    bit-exactly (kernel normalization + center alignment check)."""
    from freemap_tiler_spark.functions import mercator

    zoom, t = 9, 32
    span = mercator.WORLD / (1 << zoom)
    px = span / t
    tx0, ty0 = 279, 175
    x0 = tx0 * span - mercator.ORIGIN
    y0 = mercator.ORIGIN - ty0 * span
    base = raster_blocks(spark, grid=1, width=t, height=t, bands=2)
    df = base.withColumn(
        "geo_transform",
        F.array(F.lit(x0), F.lit(px), F.lit(0.0), F.lit(y0), F.lit(0.0), F.lit(-px)),
    )
    tiles = raster_ops.warp_blocks_to_tiles(df, zoom, t, resampling="lanczos")
    rows = {
        (int(z[0]), int(x[0]), int(y[0])): r.payload
        for r in tiles.collect()
        for z, x, y in [cells.np_cell_zxy(np.array([r.cell]))]
    }
    # the aligned tile itself must be a bit-exact copy (boundary columns at
    # sx == -0.5 may additionally assign to the left/top neighbor — the
    # exactly-once ownership rule at perfectly aligned edges)
    got = np.frombuffer(rows[(zoom, tx0, ty0)], np.uint8).reshape(t, t, 2)
    want = block_pixels(0, 0, t, t, 2)
    lit = want[:, :, -1] > 0
    assert (got[lit] == want[lit]).all()          # bit-exact where opaque
    assert (got[~lit] == 0).all()                 # transparent black elsewhere


def test_warp_lanczos_constant_preserved(spark):
    """Constant opaque source -> constant warped tile (weight rows sum to 1)."""
    from pyspark.sql.types import BinaryType

    base = raster_blocks(spark, grid=2, width=64, height=64, bands=2)
    const = np.full((64, 64, 2), 137, np.uint8).tobytes()

    @F.udf(BinaryType())
    def _const(_):
        return const

    df = base.withColumn("data", _const("data"))
    tiles = raster_ops.warp_blocks_to_tiles(df, 9, 32, resampling="lanczos")
    for r in tiles.collect():
        img = np.frombuffer(r.payload, np.uint8).reshape(32, 32, 2)
        lit = img[:, :, 1] > 0
        assert lit.any()
        assert (img[lit][:, 0] == 137).all()


def test_insert_empty_markers_reach_store(spark, tmp_path):
    """insert_empty=True: covered-but-empty tiles land in the store as
    NULL tile_data rows (regression: markers were unioned into levels and
    then dropped by the payload-length filter before the store write)."""
    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import store

    blocks = raster_blocks(spark, grid=1, width=64, height=64, bands=2)
    root = str(tmp_path / "tiler_empty")
    run_tiler(spark, blocks, root, max_zoom=11, min_zoom=10, tile_size=32,
              resume=False, insert_empty=True)
    st = store.read_tiles(spark, root)
    markers = st.where(F.col("tile_data").isNull())
    real = st.where(F.col("tile_data").isNotNull())
    assert real.count() > 0
    # cover at z11 of a 6.4km block is wider than the emitted tiles only if
    # there are empty cover cells; the invariant that MUST hold: markers
    # and real tiles are disjoint and their union is the z11 cover
    from freemap_tiler_spark.operators import raster_ops as RO
    from freemap_tiler_spark.sources.raster_blocks import source_bbox

    cover_n = RO.tile_cover(spark, source_bbox(blocks), 11).count()
    z11 = st.where(F.col("zoom") == 11)
    assert z11.count() == cover_n
    assert z11.select("x", "tms_y").distinct().count() == cover_n
    # a resumed run keeps the committed store level and appends no marker
    # the store already holds
    run_tiler(spark, blocks, root, max_zoom=11, min_zoom=10, tile_size=32,
              insert_empty=True)
    z11 = store.read_tiles(spark, root).where(F.col("zoom") == 11)
    assert z11.count() == cover_n


def test_warp_utm_source(spark):
    """Arbitrary-CRS hook: a WGS84/UTM-33N block warps through the generic
    2-D path — tiles land at the block's true lon/lat location and constant
    pixels stay constant (transform + sampling correctness)."""
    from freemap_tiler_spark.functions import crs as crs_mod
    from freemap_tiler_spark.functions import mercator
    from pyspark.sql.types import BinaryType

    # 6.4 km x 6.4 km UTM block centred near (16.9E, 48.6N)
    cx, cy = crs_mod.tm_forward(np.array([16.9]), np.array([48.6]), 15.0)
    x0, y0 = float(cx[0]) - 3200.0, float(cy[0]) + 3200.0
    base = raster_blocks(spark, grid=1, width=64, height=64, bands=2).withColumn(
        "crs", F.lit("EPSG:32633"))
    const = np.full((64, 64, 2), 99, np.uint8)
    const[:, :, 1] = 255

    @F.udf(BinaryType())
    def _const(_):
        return const.tobytes()

    df = base.withColumn("data", _const("data")).withColumn(
        "geo_transform",
        F.array(F.lit(x0), F.lit(100.0), F.lit(0.0), F.lit(y0), F.lit(0.0), F.lit(-100.0)),
    )
    tiles = raster_ops.warp_blocks_to_tiles(df, zoom=11, tile_size=32)
    rows = tiles.collect()
    assert rows, "UTM block must produce tiles"
    keys = {(int(x[0]), int(y[0])) for r in rows
            for _, x, y in [cells.np_cell_zxy(np.array([r.cell]))]}
    want_x, want_y = mercator.np_lonlat_to_tile(16.9, 48.6, 11)
    assert (int(want_x), int(want_y)) in keys
    for r in rows:
        img = np.frombuffer(r.payload, np.uint8).reshape(32, 32, 2)
        lit = img[:, :, 1] > 0
        assert (img[lit][:, 0] == 99).all()
    # total lit area ~ block area: sum of lit pixels * tile-pixel GROUND
    # area (WebMercator meters are inflated by 1/cos(lat) — a z11 tile at
    # 48.6N is 19568 merc-m but only ~12.9 true km wide)
    span = mercator.WORLD / (1 << 11)
    ground = span / 32 * math.cos(math.radians(48.6))
    lit_total = sum(
        int((np.frombuffer(r.payload, np.uint8).reshape(32, 32, 2)[:, :, 1] > 0).sum())
        for r in rows
    )
    assert abs(lit_total * ground ** 2 - 6400.0 ** 2) / 6400.0 ** 2 < 0.05


def test_mbtiles_export_png_and_jpeg(spark, blocks):
    """S6 end-to-end parity artifact: the exported .mbtiles opens with
    stdlib sqlite3, carries the reference DDL (src/schema.rs:11-40 —
    5-column tiles for jpeg, 4-column for png), and sampled tiles
    roundtrip byte-identical vs the parquet store."""
    import sqlite3

    from freemap_tiler_spark.plans.mbtiles import export_mbtiles

    for fmt in ("png", "jpeg"):
        root = tempfile.mkdtemp(prefix="tiler_mb_")
        try:
            run_tiler(spark, blocks, root, max_zoom=8, min_zoom=7,
                      tile_size=32, fmt=fmt)
            path = export_mbtiles(spark, root, f"{root}/out.mbtiles")
            conn = sqlite3.connect(path)
            cols = [r[1] for r in conn.execute("PRAGMA table_info(tiles)")]
            want = ["zoom_level", "tile_column", "tile_row", "tile_data"]
            assert cols == want + (["tile_alpha"] if fmt == "jpeg" else [])
            idx = conn.execute(
                "SELECT sql FROM sqlite_master WHERE name='idx_tiles'"
            ).fetchone()[0]
            assert "UNIQUE" in idx.upper()
            meta = dict(conn.execute("SELECT name, value FROM metadata"))
            assert meta["format"] == fmt and meta["maxzoom"] == "8"
            st = {(r.zoom, r.x, r.tms_y): bytes(r.tile_data)
                  for r in store.read_tiles(spark, root)
                  .where("tile_data is not null").collect()}
            db = {(z, x, y): bytes(d) for z, x, y, d in conn.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles")}
            assert db == st
            conn.close()
        finally:
            shutil.rmtree(root, ignore_errors=True)


def test_mbtiles_import_adopts_foreign_store(spark, blocks):
    """The ADOPT path: an export->import round trip reproduces the store
    byte-identically per tile (including jpeg's opaque-elided empty-blob
    alpha -> NULL), the metadata carries over, the recomputed limits JSON
    matches the original, and the imported store drives the engine's own
    resume anti-join (zero pending = everything recognized as done)."""
    import json
    import sqlite3

    from freemap_tiler_spark.functions import cells as CL
    from freemap_tiler_spark.plans import lineage
    from freemap_tiler_spark.plans.mbtiles import export_mbtiles, import_mbtiles

    for fmt in ("png", "jpeg"):
        root = tempfile.mkdtemp(prefix="tiler_mbi_src_")
        root2 = tempfile.mkdtemp(prefix="tiler_mbi_dst_")
        try:
            run_tiler(spark, blocks, root, max_zoom=8, min_zoom=7,
                      tile_size=32, fmt=fmt)
            path = export_mbtiles(spark, root, f"{root}/out.mbtiles")
            import_mbtiles(spark, path, root2, batch=7)  # multi-batch path

            def snap(r):
                return {
                    (x.zoom, x.x, x.tms_y): (
                        bytes(x.tile_data),
                        bytes(x.tile_alpha) if x.tile_alpha is not None
                        else None,
                    )
                    for x in store.read_tiles(spark, r)
                    .where("tile_data is not null").collect()
                }

            assert snap(root2) == snap(root) and len(snap(root)) > 0
            m1 = {r["name"]: r["value"] for r in spark.read.parquet(
                f"{root}/metadata").collect()}
            m2 = {r["name"]: r["value"] for r in spark.read.parquet(
                f"{root2}/metadata").collect()}
            assert m2["format"] == fmt and m2["maxzoom"] == m1["maxzoom"]
            assert json.loads(m2["limits"]) == json.loads(m1["limits"])
            # the adopted store satisfies the engine's resume probe
            done = store.read_tiles(spark, root2).select(
                CL.cell(F.col("zoom"), F.col("x"),
                        CL.reversed_y(F.col("zoom"), F.col("tms_y")))
                .alias("cell"))
            pending = lineage.resume_anti_join(done, done)
            assert pending.count() == 0
            # re-export equals the original file's tile table
            path2 = export_mbtiles(spark, root2, f"{root2}/out.mbtiles")
            q = ("SELECT zoom_level, tile_column, tile_row, tile_data "
                 "FROM tiles ORDER BY 1, 2, 3")
            with sqlite3.connect(path) as c1, sqlite3.connect(path2) as c2:
                assert list(c1.execute(q)) == list(c2.execute(q))
        finally:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(root2, ignore_errors=True)


def test_mbtiles_import_flushes_by_bytes(spark, blocks, tmp_path, monkeypatch):
    """import_mbtiles bounds its driver buffer by blob bytes, not rows: with
    the bound below one tile's size every tile is its own flush (one
    parquet file each), and export -> import -> export stays
    byte-identical."""
    import glob
    import sqlite3

    from freemap_tiler_spark.plans import mbtiles

    root, root2 = str(tmp_path / "src"), str(tmp_path / "dst")
    run_tiler(spark, blocks, root, max_zoom=8, min_zoom=7, tile_size=32,
              resume=False)
    path = mbtiles.export_mbtiles(spark, root, f"{root}/out.mbtiles")
    monkeypatch.setattr(mbtiles, "_FLUSH_BYTES", 1)
    mbtiles.import_mbtiles(spark, path, root2)
    q = ("SELECT zoom_level, tile_column, tile_row, tile_data "
         "FROM tiles ORDER BY 1, 2, 3")
    with sqlite3.connect(path) as c1:
        want = list(c1.execute(q))
    assert len(want) > 1
    assert len(glob.glob(f"{root2}/store/zoom=*/*.parquet")) == len(want)
    path2 = mbtiles.export_mbtiles(spark, root2, f"{root2}/out.mbtiles")
    with sqlite3.connect(path2) as c2:
        assert list(c2.execute(q)) == want


def test_warp_utm_lanczos_ramp_golden(spark):
    """Generic-CRS warps use real 2-D Lanczos (not bilinear fallback):
    a UTM easting ramp must come back at the analytically expected values
    under the ~4x downscale kernel stretch (reference parity: GRA_Lanczos
    on all warps, src/warp.rs:19)."""
    from freemap_tiler_spark.functions import crs as crs_mod
    from freemap_tiler_spark.functions import mercator as M

    cx, cy = crs_mod.tm_forward(np.array([16.9]), np.array([48.6]), 15.0)
    x0, y0 = float(cx[0]) - 3200.0, float(cy[0]) + 3200.0
    w = h = 64
    img = np.zeros((h, w, 2), np.uint8)
    img[:, :, 0] = np.clip(np.arange(w) * 4, 0, 255).astype(np.uint8)[None, :]
    img[:, :, 1] = 255
    df = spark.createDataFrame(
        [(0, 0, w, h, 2, bytearray(img.tobytes()),
          [x0, 100.0, 0.0, y0, 0.0, -100.0], "EPSG:32633", [None, None])],
        "block_x int, block_y int, width int, height int, bands int, "
        "data binary, geo_transform array<double>, crs string, nodata array<int>",
    )
    zoom, t = 11, 32
    rows = raster_ops.warp_blocks_to_tiles(df, zoom=zoom, tile_size=t).collect()
    assert rows
    span = M.WORLD / (1 << zoom)
    _, from_merc = crs_mod.lookup_crs("EPSG:32633")
    errs = []
    for r in rows:
        _, tx, ty = cells.np_cell_zxy(np.array([r.cell]))
        tx, ty = int(tx[0]), int(ty[0])
        pix = np.frombuffer(r.payload, np.uint8).reshape(t, t, 2)
        mx = (tx * t + np.arange(t) + 0.5) * span / t - M.ORIGIN
        my = M.ORIGIN - (ty * t + np.arange(t) + 0.5) * span / t
        gmx, gmy = np.meshgrid(mx, my)
        E, _N = from_merc(gmx.ravel(), gmy.ravel())
        sx = (E.reshape(t, t) - x0) / 100.0 - 0.5
        ok = (pix[:, :, 1] == 255) & (sx > 10) & (sx < 54)
        if ok.any():
            errs.append(np.abs(pix[:, :, 0][ok] - np.clip(sx[ok] * 4, 0, 255)))
    err = np.concatenate(errs)
    assert err.size > 100
    assert err.mean() < 3.0, f"mean abs UTM ramp error {err.mean():.2f}"


def test_warp_rotated_geotransform(spark):
    """Rotated geo-transforms (gt[2]/gt[4] != 0) route through the full
    affine-inverted 2-D path instead of being rejected: a 45-degree
    rotated constant block lands at its true location with its true
    ground area and constant pixels stay constant."""
    from freemap_tiler_spark.functions import mercator as M

    w = h = 64
    img = np.full((h, w, 2), 77, np.uint8)
    img[:, :, 1] = 255
    c, s = 100.0 * math.cos(math.pi / 4), 100.0 * math.sin(math.pi / 4)
    x0, y0 = 1_880_000.0, 6_290_000.0
    df = spark.createDataFrame(
        [(0, 0, w, h, 2, bytearray(img.tobytes()),
          [x0, c, s, y0, s, -c], "EPSG:3857", [None, None])],
        "block_x int, block_y int, width int, height int, bands int, "
        "data binary, geo_transform array<double>, crs string, nodata array<int>",
    )
    zoom, t = 11, 32
    rows = raster_ops.warp_blocks_to_tiles(df, zoom=zoom, tile_size=t).collect()
    assert rows
    lit_px = 0
    for r in rows:
        pix = np.frombuffer(r.payload, np.uint8).reshape(t, t, 2)
        lit = pix[:, :, 1] > 0
        assert (pix[lit][:, 0] == 77).all()
        lit_px += int(lit.sum())
    span_px = M.WORLD / (1 << zoom) / t
    area = lit_px * span_px * span_px
    true_area = (w * 100.0) * (h * 100.0)  # |det| = 100^2 per px
    assert abs(area - true_area) / true_area < 0.08


def test_megatile_banding_byte_identical(spark, monkeypatch):
    """The peak-memory banding of the separable megatile warp must be
    invisible: forcing tiny bands (many band loops, including the
    Lanczos y-pass gathering rows per band) yields byte-identical tiles
    to the effectively-unbanded default."""
    df = raster_blocks(spark, grid=1, width=64, height=64, bands=2)

    def run():
        rows = raster_ops.warp_blocks_to_tiles(df, zoom=9, tile_size=32,
                                               resampling="lanczos").collect()
        return {r.cell: bytes(r.payload) for r in rows}

    base = run()
    monkeypatch.setattr(raster_ops, "MEGATILE_BAND_PX", 32 * 64)  # ~1 tile-row
    banded = run()
    assert base == banded and len(base) > 0


# SHA-1 of each separable warp case's sorted (cell, payload) rows, taken
# from the per-method samplers the tap-table sampler replaced
SEPARABLE_WARP_DIGESTS = {
    ('EPSG:3857', 0.37, 'nearest'): '412b5cfc53d291d48e24d9add6b31e2fefb55376',
    ('EPSG:3857', 1.3, 'nearest'): '11707b3a934044e0c7786d5002e1297cfbf5b8e7',
    ('EPSG:3857', 2.7, 'nearest'): 'b5341599b3d8113049f0d310f5428c9ba44b8d0a',
    ('EPSG:4326', 0.37, 'nearest'): 'dbf4fa69c50759a878d6e8651e2fc959217690d4',
    ('EPSG:4326', 1.3, 'nearest'): '7a0c45fd571f711bf615a96241494879af696282',
    ('EPSG:4326', 2.7, 'nearest'): 'c1f87619e69b38735e9da25ff62a23e778c6a94b',
    ('EPSG:3857', 0.37, 'bilinear'): '252f12db3f78689c3a768306e880542dd7daeabd',
    ('EPSG:3857', 1.3, 'bilinear'): '2a2eab51c2e611ad59c9ef8484ee9c525bdf319c',
    ('EPSG:3857', 2.7, 'bilinear'): 'f6fa4bbccd262985f0dc81af87d2564ad4d44af3',
    ('EPSG:4326', 0.37, 'bilinear'): 'f5b9b7a7d37bc0c9b932b213af9b1b703833c94d',
    ('EPSG:4326', 1.3, 'bilinear'): '93639a65782181116345e13cc5d7ea2111f94df6',
    ('EPSG:4326', 2.7, 'bilinear'): '1f4a3939ae5876e572721f71403ded9e9972ffb3',
    ('EPSG:3857', 0.37, 'lanczos'): 'e6940da7f9fde9d494783a9cda32cbb63e22cbb8',
    ('EPSG:3857', 1.3, 'lanczos'): '399c6e3a07abaa69fb5263560323c8a6b2e73e6a',
    ('EPSG:3857', 2.7, 'lanczos'): 'dcadd56b12157deccb130b30e9df158fe00a8e5c',
    ('EPSG:4326', 0.37, 'lanczos'): 'f63b1e5b932652da5b624e5caf7dcd31241eeacf',
    ('EPSG:4326', 1.3, 'lanczos'): '9301d14b514301708077284c72dd7439dc685696',
    ('EPSG:4326', 2.7, 'lanczos'): '75556d10a6dfcf98c1f77376e7a7ec5a99456dc3',
}


@pytest.mark.parametrize("method", ["nearest", "bilinear", "lanczos"])
def test_separable_warp_matches_golden_digests(spark, method):
    """Every resampling method on the separable megatile path (EPSG:3857
    and EPSG:4326 sources, upsampled, near 1:1 and downsampled) gives the
    same bytes as the per-method samplers it replaced.  Six random RGBA
    blocks, 3 degrees apart, warp in one job; tiles are told apart by
    longitude."""
    import hashlib

    zoom, t = 10, 32
    unit = mercator.WORLD / (1 << zoom) / t  # one target pixel, in meters
    cases = [(crs, s) for crs in ("EPSG:3857", "EPSG:4326") for s in (0.37, 1.3, 2.7)]
    rows = []
    for i, (crs, scale) in enumerate(cases):
        lon, lat = 10.0 + 3.0 * i, 30.0
        if crs == "EPSG:3857":
            x0, y0 = (float(v) for v in mercator.np_lonlat_to_merc(lon, lat))
            px = scale * unit
        else:
            x0, y0, px = lon, lat, scale * math.degrees(unit / mercator.R)
        img = np.random.default_rng(i).integers(0, 256, (40, 48, 4), dtype=np.uint8)
        rows.append((0, 0, 48, 40, 4, bytearray(img.tobytes()),
                     [x0, px, 0.0, y0, 0.0, -px], crs, [None] * 4))
    df = spark.createDataFrame(
        rows,
        "block_x int, block_y int, width int, height int, bands int, "
        "data binary, geo_transform array<double>, crs string, nodata array<int>",
    )
    tiles = raster_ops.warp_blocks_to_tiles(df, zoom, t, resampling=method).collect()
    by_case: dict = {}
    for r in sorted(tiles, key=lambda r: r.cell):
        _, x, _ = cells.np_cell_zxy(np.array([r.cell]))
        i = int((x[0] * 360.0 / (1 << zoom) - 180.0 - 9.0) // 3.0)
        by_case.setdefault(cases[i], hashlib.sha1()).update(
            int(r.cell).to_bytes(8, "little") + bytes(r.payload))
    got = {(crs, s, method): h.hexdigest() for (crs, s), h in by_case.items()}
    want = {k: v for k, v in SEPARABLE_WARP_DIGESTS.items() if k[2] == method}
    assert got == want and len(got) == 6


def test_warp_proj_pipeline_string_equals_epsg(spark):
    """VERDICT r3 'Next round' #7: the reference accepts a PROJ pipeline
    string (src/args.rs:36-38); here a `+proj=utm` pipeline in the blocks
    table's crs column must warp byte-identically to the auto-registered
    EPSG:32633 spelling, and longlat/webmerc spellings must route onto
    the native separable paths."""
    from pyspark.sql.types import BinaryType

    from freemap_tiler_spark.functions import crs as crs_mod

    assert crs_mod.normalize_crs("+proj=longlat +datum=WGS84 +no_defs") == "EPSG:4326"
    assert crs_mod.normalize_crs("+proj=webmerc +datum=WGS84") == "EPSG:3857"
    assert crs_mod.normalize_crs("+proj=utm +zone=33 +datum=WGS84") == "EPSG:32633"
    assert crs_mod.normalize_crs("+proj=utm +zone=19 +south") == "EPSG:32719"
    # general tmerc == the UTM zone it parameterizes
    pair = crs_mod.lookup_crs(
        "+proj=tmerc +lat_0=0 +lon_0=15 +k=0.9996 +x_0=500000 +y_0=0")
    ref = crs_mod.lookup_crs("EPSG:32633")
    lon = np.array([14.2, 16.9, 15.0])
    lat = np.array([46.0, 48.6, 50.1])
    import numpy.testing as npt
    mx, my = crs_mod.mercator.np_lonlat_to_merc(lon, lat)
    npt.assert_allclose(pair[1](mx, my), ref[1](mx, my), rtol=0, atol=1e-9)

    cx, cy = crs_mod.tm_forward(np.array([16.9]), np.array([48.6]), 15.0)
    x0, y0 = float(cx[0]) - 3200.0, float(cy[0]) + 3200.0
    rng = np.random.default_rng(17)
    img = rng.integers(0, 255, (64, 64, 2), dtype=np.uint8)
    img[:, :, 1] = 255

    @F.udf(BinaryType())
    def _img(_):
        return img.tobytes()

    def tiles_for(crs_str):
        base = raster_blocks(spark, grid=1, width=64, height=64, bands=2).withColumn(
            "crs", F.lit(crs_str))
        df = base.withColumn("data", _img("data")).withColumn(
            "geo_transform",
            F.array(F.lit(x0), F.lit(100.0), F.lit(0.0),
                    F.lit(y0), F.lit(0.0), F.lit(-100.0)),
        )
        return {
            int(r.cell): bytes(r.payload)
            for r in raster_ops.warp_blocks_to_tiles(df, zoom=11, tile_size=32).collect()
        }

    a = tiles_for("EPSG:32633")
    b = tiles_for("+proj=utm +zone=33 +datum=WGS84 +units=m +no_defs")
    assert a == b and a, "pipeline-string warp must equal the EPSG warp"


def _bbox_filter_prune(cover, rings_lonlat):
    """Reference prune for the layer prune: filter the whole bbox cover,
    keeping a tile iff its EPSG:3857 bounds rectangle intersects the
    reprojected polygon (src/main.rs:187-198): (a) a probe point (center
    or a corner) is inside, or (b) a boundary segment meets the solid
    rectangle (Liang-Barsky).  O(bbox cells) rows through the filter."""
    from freemap_tiler_spark.operators.pip_join import (
        _segments_hit_rects,
        points_in_polygon,
    )
    from freemap_tiler_spark.sources.geojson import reproject_rings_3857

    rings_m = reproject_rings_3857(rings_lonlat)
    e1x = np.concatenate([r[0] for r in rings_m])
    e1y = np.concatenate([r[1] for r in rings_m])
    e2x = np.concatenate([np.roll(r[0], -1) for r in rings_m])
    e2y = np.concatenate([np.roll(r[1], -1) for r in rings_m])

    def _keep(batches):
        for pdf in batches:
            z, x, y = cells.np_cell_zxy(pdf["cell"].to_numpy())
            span = mercator.WORLD / (np.int64(1) << z).astype(float)
            mx0 = x * span - mercator.ORIGIN
            mx1 = (x + 1) * span - mercator.ORIGIN
            my1 = mercator.ORIGIN - y * span
            my0 = mercator.ORIGIN - (y + 1) * span
            keep = np.zeros(len(pdf), dtype=bool)
            for fx, fy in ((0.5, 0.5), (0, 0), (1, 0), (0, 1), (1, 1)):
                keep |= points_in_polygon(
                    mx0 + (mx1 - mx0) * fx, my0 + (my1 - my0) * fy, rings_m)
            todo = ~keep
            keep[np.nonzero(todo)[0][_segments_hit_rects(
                e1x, e1y, e2x, e2y, mx0[todo], my0[todo], mx1[todo], my1[todo],
            )]] = True
            yield pdf[keep]

    return cover.mapInPandas(_keep, "cell long, x long, y long")


def test_polygon_layer_prune_matches_broadcast(spark):
    """The quadtree cell-join prune keeps exactly the tiles the bbox-filter
    reference keeps (same EPSG:3857 Intersects rule) on the two contract
    fixtures, a holed polygon, a polygon inside one tile, a polygon
    reaching the grid's edge latitude and a two-polygon layer, and it
    handles a many-polygon layer without driver-side rings."""
    from freemap_tiler_spark import contract

    def cover_of(rings, zoom):
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        mx0, my0 = mercator.np_lonlat_to_merc(xs.min(), ys.min())
        mx1, my1 = mercator.np_lonlat_to_merc(xs.max(), ys.max())
        return raster_ops.tile_cover(
            spark, (float(mx0), float(my0), float(mx1), float(my1)), zoom)

    def ring(vx, vy):
        return (np.asarray(vx, float), np.asarray(vy, float))

    def box(x0, y0, x1, y1):
        return ring([x0, x1, x1, x0], [y0, y0, y1, y1])

    def xy(df):
        return {(r.x, r.y) for r in df.collect()}

    holed = [box(10.0, 40.0, 22.0, 52.0), box(13.0, 43.0, 19.0, 49.0)]
    cases = {
        "quad": [ring(contract.QUAD_X, contract.QUAD_Y)],
        "strip": [ring(contract.STRIP_X, contract.STRIP_Y)],
        "holed": holed,
        "single tile": [box(16.81, 48.96, 16.83, 48.97)],
        "edge latitude": [box(-10.0, 80.0, 10.0, 85.0511)],
    }
    for name, rings in cases.items():
        cover = cover_of(rings, 8)
        ref = xy(_bbox_filter_prune(cover, rings))
        got = xy(PL.prune_cover_by_polygon_layer(cover, polygon_df(spark, rings), 8))
        assert got == ref and ref, f"{name}: layer prune diverged: {got ^ ref}"
        if name == "holed":  # the hole's inner tiles are pruned
            assert len(ref) < cover.count()

    # two disjoint polygons as one layer: the union of the one-polygon prunes
    a, b = box(5.0, 45.0, 6.0, 46.0), box(20.0, 50.0, 21.5, 51.0)
    cover = cover_of([a, b], 8)
    layer = polygon_df(spark, [a]).union(
        polygon_df(spark, [b]).withColumn("poly_id", F.lit(2).cast("long")))
    ref = xy(_bbox_filter_prune(cover, [a])) | xy(_bbox_filter_prune(cover, [b]))
    assert xy(PL.prune_cover_by_polygon_layer(cover, layer, 8)) == ref

    # many-polygon layer: 40 translated quads as one DataFrame, no
    # driver rings anywhere in the path
    rows = []
    for i in range(40):
        dx, dy = (i % 8) * 0.8, (i // 8) * 0.5
        rows.append((i, 0, [v + dx for v in map(float, contract.QUAD_X)],
                     [v + dy for v in map(float, contract.QUAD_Y)]))
    layer = spark.createDataFrame(
        rows, "poly_id long, ring_idx int, xs array<double>, ys array<double>")
    cover = cover_of([ring(r[2], r[3]) for r in rows], 8)
    kept = PL.prune_cover_by_polygon_layer(cover, layer, 8)
    n_kept, n_cover = kept.count(), cover.count()
    assert 0 < n_kept < n_cover
