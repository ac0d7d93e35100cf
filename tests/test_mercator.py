"""Web-Mercator math vs published slippy-map constants (SURVEY §5.1)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from freemap_tiler_spark.functions import mercator
from oracles import np_tile_bounds


def test_world_constants():
    b = np_tile_bounds(np.array([0]), np.array([0]), np.array([0]))
    # z0 tile == world extent +/- 20037508.342789244 (src/main.rs:185 semantics)
    assert np.isclose(b[0][0], -20037508.342789244)
    assert np.isclose(b[3][0], 20037508.342789244)


@given(st.floats(-179.9, 179.9), st.floats(-84.9, 84.9))
@settings(max_examples=200, deadline=None)
def test_merc_roundtrip(lon, lat):
    x, y = mercator.np_lonlat_to_merc(lon, lat)
    lon2, lat2 = mercator.np_merc_to_lonlat(x, y)
    assert abs(float(lon2) - lon) < 1e-9 and abs(float(lat2) - lat) < 1e-9


def test_known_tiles():
    # published slippy-map values
    tx, ty = mercator.np_lonlat_to_tile(np.array([0.0]), np.array([0.0]), 1)
    assert (tx[0], ty[0]) == (1, 1)
    tx, ty = mercator.np_lonlat_to_tile(np.array([17.1077]), np.array([48.1486]), 14)
    assert (tx[0], ty[0]) == (8970, 5685)
    # poles clamp
    tx, ty = mercator.np_lonlat_to_tile(np.array([0.0]), np.array([89.9]), 3)
    assert ty[0] == 0


@given(st.integers(0, 18))
@settings(max_examples=50, deadline=None)
def test_tile_bounds_tiling(z):
    """Adjacent tiles share edges; spans are exact halves of the parent."""
    x = np.array([0, 1])
    y = np.array([0, 0])
    zz = np.array([z, z])
    b = np_tile_bounds(zz, x, y)
    if z > 0:
        assert np.isclose(b[2][0], b[0][1])  # max_x of t0 == min_x of t1


def test_tile_assign_consistent_with_bounds():
    """A point assigned to tile t lies within t's mercator bounds."""
    rng = np.random.RandomState(3)
    lon = rng.uniform(-170, 170, 500)
    lat = rng.uniform(-80, 80, 500)
    z = 10
    tx, ty = mercator.np_lonlat_to_tile(lon, lat, z)
    mn_x, mn_y, mx_x, mx_y = np_tile_bounds(np.full(500, z), tx, ty)
    px, py = mercator.np_lonlat_to_merc(lon, lat)
    eps = 1e-6
    assert (px >= mn_x - eps).all() and (px <= mx_x + eps).all()
    assert (py >= mn_y - eps).all() and (py <= mx_y + eps).all()


def test_tm_forward_inverse_roundtrip():
    """Ellipsoidal Transverse Mercator (Snyder): sub-mm roundtrip over the
    UTM-33N usable band."""
    import numpy as np

    from freemap_tiler_spark.functions import crs

    lon = np.linspace(12.0, 18.0, 40)
    lat = np.linspace(40.0, 60.0, 40)
    x, y = crs.tm_forward(lon, lat, 15.0)
    lon2, lat2 = crs.tm_inverse(x, y, 15.0)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8
    # central meridian at the equator is exactly (false_easting, 0)
    x0, y0 = crs.tm_forward(np.array([15.0]), np.array([0.0]), 15.0)
    assert abs(x0[0] - 500_000.0) < 1e-6 and abs(y0[0]) < 1e-6


def test_crs_registry_utm_and_errors():
    import numpy as np
    import pytest

    from freemap_tiler_spark.functions import crs

    pair = crs.lookup_crs("EPSG:32633")
    assert pair is not None
    to_merc, from_merc = pair
    mx, my = to_merc(np.array([500_000.0]), np.array([5_300_000.0]))
    X, Y = from_merc(mx, my)
    assert abs(X[0] - 500_000.0) < 1e-3 and abs(Y[0] - 5_300_000.0) < 1e-3
    assert crs.lookup_crs("EPSG:3857") is None     # native separable path
    # unknown, not auto-UTM: the message names the way out that reaches
    # the warp's Python workers, a +proj=... string in the block's crs
    # column (a pair registered on the driver never reached them)
    with pytest.raises(ValueError, match=r"\+proj=") as e:
        crs.lookup_crs("EPSG:2169")
    assert "register_crs" not in str(e.value)
    with pytest.raises(ValueError) as e:
        crs.parse_proj_pipeline("+proj=omerc +lat_0=4 +lonc=102.25")
    assert "register_crs" not in str(e.value)
