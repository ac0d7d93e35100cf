"""Conic + polar CRS families (VERDICT r4 'Next round' #5): Lambert
conformal conic, Albers equal-area, polar stereographic — Snyder closed
forms, accepted via PROJ pipeline strings, driven through the warp.

Correctness anchors (no PROJ in this container):
  1. forward/inverse roundtrip to < 1e-6 m in WebMercator space;
  2. each projection's DEFINING property, numerically differentiated:
     scale == 1 along both LCC standard parallels and at the stere
     standard parallel; Albers Jacobian == the ellipsoid area element;
  3. a warp ramp golden per family (same harness as the UTM golden).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.functions import crs as C
from freemap_tiler_spark.functions import mercator as M
from freemap_tiler_spark.operators import raster_ops

pytestmark = pytest.mark.spark

PIPELINES = [
    "+proj=lcc +lat_1=48 +lat_2=49.5 +lat_0=48.5 +lon_0=17 +x_0=700000 +y_0=200000",
    "+proj=aea +lat_1=48 +lat_2=49.5 +lat_0=48.5 +lon_0=17",
    "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45",
    "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0",
    "+proj=stere +lat_0=90 +k=0.994 +lon_0=0",
]


@pytest.mark.parametrize("proj", PIPELINES)
def test_roundtrip(proj):
    name = C.parse_proj_pipeline(proj)
    assert C.parse_proj_pipeline(name) == name  # normalized name reparses
    to_merc, from_merc = C.lookup_crs(name)
    rng = np.random.default_rng(11)
    lon = rng.uniform(-60, 60, 500)
    south = "-90" in proj
    lat = rng.uniform(25, 82, 500) * (-1 if south else 1)
    mx, my = M.np_lonlat_to_merc(lon, lat)
    X, Y = from_merc(mx, my)
    mx2, my2 = to_merc(X, Y)
    assert np.abs(mx2 - mx).max() < 1e-6
    assert np.abs(my2 - my).max() < 1e-6


def _fwd(pair):
    _, from_merc = pair

    def f(lon, lat):
        mx, my = M.np_lonlat_to_merc(np.asarray(lon, float), np.asarray(lat, float))
        return from_merc(mx, my)

    return f


def _parallel_scale(fwd, lon, lat):
    d = 1e-6
    x1, y1 = fwd(np.array([lon]), np.array([lat]))
    x2, y2 = fwd(np.array([lon + d]), np.array([lat]))
    dist = math.hypot(float(x2[0] - x1[0]), float(y2[0] - y1[0]))
    sl = math.sin(math.radians(lat))
    n = C._A / math.sqrt(1 - C._E2 * sl * sl)
    return dist / (math.radians(d) * n * math.cos(math.radians(lat)))


def test_defining_properties():
    lcc = _fwd(C._lcc_pair(40, 60, 0, 0, 0, 0))
    assert abs(_parallel_scale(lcc, 10.0, 40.0) - 1.0) < 1e-6
    assert abs(_parallel_scale(lcc, 10.0, 60.0) - 1.0) < 1e-6
    st = _fwd(C._stere_pair(90, 70, 1.0, 0, 0, 0))
    assert abs(_parallel_scale(st, 10.0, 70.0) - 1.0) < 1e-6
    aea = _fwd(C._aea_pair(40, 60, 50, 0, 0, 0))
    lon, lat, d = 10.0, 50.0, 1e-5
    x0, y0 = aea(np.array([lon]), np.array([lat]))
    xl, yl = aea(np.array([lon + d]), np.array([lat]))
    xp, yp = aea(np.array([lon]), np.array([lat + d]))
    jac = abs(float((xl[0] - x0[0]) * (yp[0] - y0[0])
                    - (xp[0] - x0[0]) * (yl[0] - y0[0])))
    sl = math.sin(math.radians(lat))
    n = C._A / math.sqrt(1 - C._E2 * sl * sl)
    m = C._A * (1 - C._E2) / (1 - C._E2 * sl * sl) ** 1.5
    area = (math.radians(d) * n * math.cos(math.radians(lat))) * (math.radians(d) * m)
    assert abs(jac / area - 1.0) < 1e-4


def test_stere_rejects_oblique():
    with pytest.raises(ValueError, match="polar"):
        C.parse_proj_pipeline("+proj=stere +lat_0=52 +lon_0=5")


# the reference README's LITERAL --transform-pipeline (README.md:75-77):
# inv krovak -> (grid shift, identity here) -> cart/helmert/cart Bessel->
# WGS84 -> webmerc
REF_PIPELINE = (
    "+proj=pipeline "
    "+step +inv +proj=krovak +lat_0=49.5 +lon_0=24.8333333333333 "
    "+alpha=30.2881397527778 +k=0.9999 +x_0=0 +y_0=0 +ellps=bessel "
    "+step +inv +proj=hgridshift +grids=Slovakia_JTSK03_to_JTSK.gsb "
    "+step +proj=krovak +lat_0=49.5 +lon_0=24.8333333333333 "
    "+alpha=30.2881397527778 +k=0.9999 +x_0=0 +y_0=0 +ellps=bessel "
    "+step +inv +proj=krovak +lat_0=49.5 +lon_0=24.8333333333333 "
    "+alpha=30.2881397527778 +k=0.9999 +x_0=0 +y_0=0 +ellps=bessel "
    "+step +proj=push +v_3 +step +proj=cart +ellps=bessel "
    "+step +proj=helmert +x=485.021 +y=169.465 +z=483.839 +rx=-7.786342 "
    "+ry=-4.397554 +rz=-4.102655 +s=0 +convention=coordinate_frame "
    "+step +inv +proj=cart +ellps=WGS84 +step +proj=pop +v_3 "
    "+step +proj=webmerc +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 +ellps=WGS84"
)


def test_krovak_epsg_worked_example():
    """EPSG Guidance Note 7-2 Krovak test point: 50d12'32.4416\"N,
    16d50'59.1790\"E (Greenwich) -> Southing 1050538.63 / Westing
    568991.00 m; East-North (EPSG:5514 axes) negates both."""
    kr = C._Krovak()
    lat = math.radians(50 + 12 / 60 + 32.4416 / 3600)
    lon = math.radians(16 + 50 / 60 + 59.1790 / 3600)
    x, y = kr.fwd(np.array([lon]), np.array([lat]))
    assert abs(x[0] + 568991.00) < 0.05
    assert abs(y[0] + 1050538.63) < 0.05
    krc = C._Krovak(czech=True)  # PROJ +czech: positive southing/westing
    xc, yc = krc.fwd(np.array([lon]), np.array([lat]))
    assert abs(xc[0] - 568991.00) < 0.05 and abs(yc[0] - 1050538.63) < 0.05
    lo, la = kr.inv(x, y)
    assert abs(lo[0] - lon) < 1e-12 and abs(la[0] - lat) < 1e-12


def test_krovak_datum_chain_roundtrip():
    """EPSG:8353 (the reference's --source-srs) roundtrips through the
    full inv-krovak -> cart -> 7-param Helmert -> webmerc chain; the
    3-param EPSG:5514 variant must land a FEW METERS away (different
    datum realization), never identical and never wildly off."""
    kr = C._Krovak()
    lons = np.radians(np.linspace(16.9, 22.5, 20))
    lats = np.radians(np.linspace(47.8, 49.5, 20))
    LO, LA = np.meshgrid(lons, lats)
    kx, ky = kr.fwd(LO, LA)
    tm8, fm8 = C.lookup_crs("EPSG:8353")
    mx, my = tm8(kx, ky)
    kx2, ky2 = fm8(mx, my)
    assert max(np.abs(kx2 - kx).max(), np.abs(ky2 - ky).max()) < 1e-5
    tm5, _ = C.lookup_crs("EPSG:5514")
    m5 = tm5(kx, ky)
    d = np.hypot(m5[0] - mx, m5[1] - my)
    assert 0.1 < d.min() and d.max() < 50.0


def test_reference_pipeline_literal_matches_epsg8353():
    """The engine accepts the reference README's exact --transform-
    pipeline string; with the grid-shift step as identity the krovak
    triple cancels, so it must agree with the EPSG:8353 registry chain
    to float precision, both directions."""
    kr = C._Krovak()
    lons = np.radians(np.linspace(17.0, 22.0, 15))
    lats = np.radians(np.linspace(48.0, 49.4, 15))
    LO, LA = np.meshgrid(lons, lats)
    kx, ky = kr.fwd(LO, LA)
    tm8, _ = C.lookup_crs("EPSG:8353")
    ptm, pfm = C.lookup_crs(REF_PIPELINE)
    mx, my = tm8(kx, ky)
    pmx, pmy = ptm(kx, ky)
    assert max(np.abs(pmx - mx).max(), np.abs(pmy - my).max()) < 1e-6
    bx, by = pfm(pmx, pmy)
    assert max(np.abs(bx - kx).max(), np.abs(by - ky).max()) < 1e-5
    # normalized name re-parses to itself
    name = C.parse_proj_pipeline(REF_PIPELINE)
    assert C.parse_proj_pipeline(name) == name


@pytest.mark.parametrize("proj", [
    # a tmerc block reaches the warp's workers through its crs string alone
    "+proj=tmerc +lat_0=0 +lon_0=17 +k=0.9996 +x_0=500000 +y_0=0",
    "+proj=lcc +lat_1=48 +lat_2=49.5 +lat_0=48.5 +lon_0=17",
    "+proj=aea +lat_1=48 +lat_2=49.5 +lat_0=48.5 +lon_0=17",
    "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45",
    "+proj=krovak +ellps=bessel +towgs84=589,76,480",
    REF_PIPELINE,
])
def test_warp_ramp_golden(spark, proj):
    """Same harness as the UTM Lanczos ramp golden: an easting ramp in the
    source CRS must come back at the analytically expected values through
    the generic 2-D warp path."""
    name = C.parse_proj_pipeline(proj)
    _, from_merc = C.lookup_crs(name)
    cx, cy = from_merc(*M.np_lonlat_to_merc(np.array([16.9]), np.array([48.6])))
    x0, y0 = float(np.asarray(cx).ravel()[0]) - 3200.0, float(np.asarray(cy).ravel()[0]) + 3200.0
    w = h = 64
    img = np.zeros((h, w, 2), np.uint8)
    img[:, :, 0] = np.clip(np.arange(w) * 4, 0, 255).astype(np.uint8)[None, :]
    img[:, :, 1] = 255
    df = spark.createDataFrame(
        [(0, 0, w, h, 2, bytearray(img.tobytes()),
          [x0, 100.0, 0.0, y0, 0.0, -100.0], name, [None, None])],
        "block_x int, block_y int, width int, height int, bands int, "
        "data binary, geo_transform array<double>, crs string, nodata array<int>",
    )
    zoom, t = 11, 32
    rows = raster_ops.warp_blocks_to_tiles(df, zoom=zoom, tile_size=t).collect()
    assert rows
    span = M.WORLD / (1 << zoom)
    errs = []
    for r in rows:
        _, tx, ty = cells.np_cell_zxy(np.array([r.cell]))
        tx, ty = int(tx[0]), int(ty[0])
        pix = np.frombuffer(r.payload, np.uint8).reshape(t, t, 2)
        mx = (tx * t + np.arange(t) + 0.5) * span / t - M.ORIGIN
        my = M.ORIGIN - (ty * t + np.arange(t) + 0.5) * span / t
        gmx, gmy = np.meshgrid(mx, my)
        E, _ = from_merc(gmx.ravel(), gmy.ravel())
        sx = (E.reshape(t, t) - x0) / 100.0 - 0.5
        ok = (pix[:, :, 1] == 255) & (sx > 10) & (sx < 54)
        if ok.any():
            errs.append(np.abs(pix[:, :, 0][ok] - np.clip(sx[ok] * 4, 0, 255)))
    err = np.concatenate(errs)
    assert err.size > 100
    assert err.mean() < 3.0, f"{proj}: mean abs ramp error {err.mean():.2f}"


def test_krovak_helmert_hypothesis_roundtrips():
    """Property roundtrips over the projection's domain: random points in
    the Krovak cone's validity region survive fwd∘inv to float precision;
    random 7-param Helmerts invert exactly; cart∘inv-cart is identity for
    every registered ellipsoid."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    kr = C._Krovak()

    @settings(max_examples=200, deadline=None)
    @given(st.floats(12.0, 27.0), st.floats(46.0, 54.0))
    def roundtrip(lon_deg, lat_deg):
        lon = np.array([math.radians(lon_deg)])
        lat = np.array([math.radians(lat_deg)])
        x, y = kr.fwd(lon, lat)
        lo, la = kr.inv(x, y)
        assert abs(lo[0] - lon[0]) < 1e-11 and abs(la[0] - lat[0]) < 1e-11

    roundtrip()

    @settings(max_examples=100, deadline=None)
    @given(st.floats(-1000, 1000), st.floats(-1000, 1000),
           st.floats(-1000, 1000), st.floats(-30, 30), st.floats(-30, 30),
           st.floats(-30, 30), st.floats(-50, 50),
           st.sampled_from(["position_vector", "coordinate_frame"]))
    def helmert_inverts(tx, ty, tz, rx, ry, rz, s, conv):
        f, i = C.helmert7(tx, ty, tz, rx, ry, rz, s, convention=conv)
        p = np.array([4000e3]), np.array([1200e3]), np.array([4700e3])
        q = i(*f(*p))
        assert max(abs(a - b).max() for a, b in zip(q, p)) < 1e-5

    helmert_inverts()

    @settings(max_examples=100, deadline=None)
    @given(st.floats(-179, 179), st.floats(-89, 89), st.floats(-100, 4000),
           st.sampled_from(["WGS84", "GRS80", "bessel"]))
    def cart_inverts(lon_deg, lat_deg, h, ell):
        lon = np.array([math.radians(lon_deg)])
        lat = np.array([math.radians(lat_deg)])
        hh = np.array([h])
        lo, la, h2 = C.cart_to_geodetic(
            *C.geodetic_to_cart(lon, lat, hh, ell), ell)
        assert abs(lo[0] - lon[0]) < 1e-11
        assert abs(la[0] - lat[0]) < 1e-11
        assert abs(h2[0] - h) < 1e-5

    cart_inverts()
