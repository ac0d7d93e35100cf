"""CRS transforms for the warp (the reference's PROJ-pipeline
knob, src/warp.rs:22-77 / src/main.rs:154-162, re-expressed offline).

No PROJ in this container, so transforms are pure-numpy implementations of
published projection formulas (Snyder, "Map Projections — A Working
Manual", USGS PP 1395: Transverse Mercator eqs 8-9..8-17 and 4-20..4-32).
``lookup_crs(name)`` resolves a CRS name to a transform pair:

- ``from_merc(mx, my) -> (X, Y)``: WebMercator meters -> source CRS coords
  (used per target-pixel-center during the warp's inverse mapping);
- ``to_merc(X, Y) -> (mx, my)``: source coords -> WebMercator (used to
  bbox a block for tile-cover enumeration, with edge densification).

Names are EPSG codes (3857/4326 native; WGS84 UTM zones EPSG:326xx north /
327xx south and the Krovak codes 5514/8353 built on lookup) or `+proj=...`
pipeline strings (``parse_proj_pipeline``: longlat, webmerc, utm, tmerc,
lcc, aea, stere, krovak and multi-step pipelines).  A block names its CRS
in its ``crs`` column, so each Python worker of the warp builds the pair
from that string itself: a CRS outside the EPSG codes is given as its
`+proj=...` string.  Non-axis-aligned transforms make the inverse map
non-separable, so the warp samples them through its generic 2-D path.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np

from freemap_tiler_spark.functions import mercator

# WGS84 ellipsoid
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2.0 - _F)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996


def _m_arc(lat: np.ndarray) -> np.ndarray:
    """Meridional arc length from equator (Snyder 3-21)."""
    e2, e4, e6 = _E2, _E2 ** 2, _E2 ** 3
    return _A * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * lat
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * lat)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * lat)
        - (35 * e6 / 3072) * np.sin(6 * lat)
    )


def tm_forward(
    lon_deg: np.ndarray, lat_deg: np.ndarray, lon0_deg: float,
    k0: float = _K0, false_e: float = 500_000.0, false_n: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Transverse Mercator forward (Snyder 8-9..8-13)."""
    lat = np.radians(np.asarray(lat_deg, float))
    lon = np.radians(np.asarray(lon_deg, float))
    lon0 = math.radians(lon0_deg)
    sin_l, cos_l, tan_l = np.sin(lat), np.cos(lat), np.tan(lat)
    n = _A / np.sqrt(1 - _E2 * sin_l ** 2)
    t = tan_l ** 2
    c = _EP2 * cos_l ** 2
    a_ = (lon - lon0) * cos_l
    m = _m_arc(lat)
    x = k0 * n * (
        a_ + (1 - t + c) * a_ ** 3 / 6
        + (5 - 18 * t + t ** 2 + 72 * c - 58 * _EP2) * a_ ** 5 / 120
    )
    y = k0 * (
        m + n * tan_l * (
            a_ ** 2 / 2 + (5 - t + 9 * c + 4 * c ** 2) * a_ ** 4 / 24
            + (61 - 58 * t + t ** 2 + 600 * c - 330 * _EP2) * a_ ** 6 / 720
        )
    )
    return x + false_e, y + false_n


def tm_inverse(
    x: np.ndarray, y: np.ndarray, lon0_deg: float,
    k0: float = _K0, false_e: float = 500_000.0, false_n: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Ellipsoidal Transverse Mercator inverse (Snyder 8-17..8-25)."""
    x = np.asarray(x, float) - false_e
    y = np.asarray(y, float) - false_n
    m = y / k0
    e1 = (1 - math.sqrt(1 - _E2)) / (1 + math.sqrt(1 - _E2))
    mu = m / (_A * (1 - _E2 / 4 - 3 * _E2 ** 2 / 64 - 5 * _E2 ** 3 / 256))
    lat1 = (
        mu + (3 * e1 / 2 - 27 * e1 ** 3 / 32) * np.sin(2 * mu)
        + (21 * e1 ** 2 / 16 - 55 * e1 ** 4 / 32) * np.sin(4 * mu)
        + (151 * e1 ** 3 / 96) * np.sin(6 * mu)
        + (1097 * e1 ** 4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(lat1), np.cos(lat1), np.tan(lat1)
    c1 = _EP2 * cos1 ** 2
    t1 = tan1 ** 2
    n1 = _A / np.sqrt(1 - _E2 * sin1 ** 2)
    r1 = _A * (1 - _E2) / (1 - _E2 * sin1 ** 2) ** 1.5
    d = x / (n1 * k0)
    lat = lat1 - (n1 * tan1 / r1) * (
        d ** 2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 ** 2 - 9 * _EP2) * d ** 4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 ** 2 - 252 * _EP2 - 3 * c1 ** 2)
        * d ** 6 / 720
    )
    lon = math.radians(lon0_deg) + (
        d - (1 + 2 * t1 + c1) * d ** 3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 ** 2 + 8 * _EP2 + 24 * t1 ** 2)
        * d ** 5 / 120
    ) / cos1
    return np.degrees(lon), np.degrees(lat)


# ---------------------------------------------------------------------------
# registry: the pairs built so far in this process, by normalized name
# ---------------------------------------------------------------------------

Transform = Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]]
_REGISTRY: dict[str, tuple[Transform, Transform]] = {}


def _tmerc_pair(
    lon0: float, lat0: float, k0: float, x0: float, y0: float
) -> tuple[Transform, Transform]:
    """Generic Transverse Mercator pair from PROJ-style parameters.
    lat_0 != 0 folds into the false northing via the meridional arc
    (y = k0*(M - M0) + y_0, Snyder 8-9 with an origin-latitude offset)."""
    m0 = float(_m_arc(np.asarray([math.radians(lat0)]))[0]) if lat0 else 0.0
    fn = y0 - k0 * m0
    return _wrap_pair(
        lambda lon, lat: tm_forward(lon, lat, lon0, k0=k0, false_e=x0, false_n=fn),
        lambda X, Y: tm_inverse(X, Y, lon0, k0=k0, false_e=x0, false_n=fn),
    )


# ---------------------------------------------------------------------------
# conic + polar families (Snyder, USGS PP 1395: LCC ch. 15, Albers ch. 14,
# polar stereographic ch. 21) — VERDICT r4 "Next round" #5
# ---------------------------------------------------------------------------

_E = math.sqrt(_E2)


def _t_sny(lat: np.ndarray) -> np.ndarray:
    """Snyder 15-9: isometric-latitude kernel t(lat)."""
    sl = _E * np.sin(lat)
    return np.tan(np.pi / 4 - lat / 2) / ((1 - sl) / (1 + sl)) ** (_E / 2)


def _m_sny(lat) -> np.ndarray:
    """Snyder 14-15: m(lat) = cos(lat)/sqrt(1 - e^2 sin^2 lat)."""
    lat = np.asarray(lat, float)
    sl = np.sin(lat)
    return np.cos(lat) / np.sqrt(1 - _E2 * sl * sl)


def _lat_from_t(t: np.ndarray) -> np.ndarray:
    """Snyder 7-9 fixed-point inverse of _t_sny (converges ~1e-12 in <8)."""
    lat = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(8):
        sl = _E * np.sin(lat)
        lat = np.pi / 2 - 2 * np.arctan(t * ((1 - sl) / (1 + sl)) ** (_E / 2))
    return lat


def _q_sny(lat) -> np.ndarray:
    """Snyder 3-12: authalic-latitude kernel q(lat)."""
    lat = np.asarray(lat, float)
    sl = np.sin(lat)
    esl = _E * sl
    return (1 - _E2) * (
        sl / (1 - _E2 * sl * sl) - np.log((1 - esl) / (1 + esl)) / (2 * _E)
    )


def _lat_from_q(q: np.ndarray) -> np.ndarray:
    """Snyder 3-16 Newton iteration for lat given q."""
    lat = np.arcsin(np.clip(np.asarray(q, float) / 2.0, -1.0, 1.0))
    for _ in range(10):
        sl = np.sin(lat)
        esl = _E * sl
        d = 1 - _E2 * sl * sl
        cl = np.maximum(np.cos(lat), 1e-12)
        lat = lat + d * d / (2 * cl) * (
            q / (1 - _E2) - sl / d + np.log((1 - esl) / (1 + esl)) / (2 * _E)
        )
    return lat


def _lcc_pair(
    lat1: float, lat2: float, lat0: float, lon0: float, x0: float, y0: float
) -> tuple[Transform, Transform]:
    """Lambert conformal conic 2SP (Snyder 15-1..15-11); 1SP when
    lat_1 == lat_2 (n = sin lat_1)."""
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_sny(p1))
    t1 = float(_t_sny(np.asarray(p1)))
    if abs(lat1 - lat2) < 1e-9:
        n = math.sin(p1)
    else:
        m2 = float(_m_sny(p2))
        t2 = float(_t_sny(np.asarray(p2)))
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    Fc = m1 / (n * t1 ** n)
    rho0 = _A * Fc * float(_t_sny(np.asarray(p0))) ** n
    sgn = 1.0 if n >= 0 else -1.0
    lon0_r = math.radians(lon0)

    def fwd(lon_deg, lat_deg):
        lat = np.radians(np.asarray(lat_deg, float))
        lon = np.radians(np.asarray(lon_deg, float))
        rho = _A * Fc * _t_sny(lat) ** n
        th = n * (lon - lon0_r)
        return x0 + rho * np.sin(th), y0 + rho0 - rho * np.cos(th)

    def inv(x, y):
        xr = np.asarray(x, float) - x0
        yr = rho0 - (np.asarray(y, float) - y0)
        rho = sgn * np.hypot(xr, yr)
        th = np.arctan2(sgn * xr, sgn * yr)
        t = (rho / (_A * Fc)) ** (1.0 / n)
        return (
            np.degrees(th / n + lon0_r),
            np.degrees(_lat_from_t(t)),
        )

    return _wrap_pair(fwd, inv)


def _aea_pair(
    lat1: float, lat2: float, lat0: float, lon0: float, x0: float, y0: float
) -> tuple[Transform, Transform]:
    """Albers equal-area conic (Snyder 14-1..14-12); 1SP when
    lat_1 == lat_2."""
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1 = float(_m_sny(p1))
    q1 = float(_q_sny(p1))
    if abs(lat1 - lat2) < 1e-9:
        n = math.sin(p1)
    else:
        m2 = float(_m_sny(p2))
        q2 = float(_q_sny(p2))
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = _A * math.sqrt(C - n * float(_q_sny(p0))) / n
    sgn = 1.0 if n >= 0 else -1.0
    lon0_r = math.radians(lon0)

    def fwd(lon_deg, lat_deg):
        lat = np.radians(np.asarray(lat_deg, float))
        lon = np.radians(np.asarray(lon_deg, float))
        rho = _A * np.sqrt(np.maximum(C - n * _q_sny(lat), 0.0)) / n
        th = n * (lon - lon0_r)
        return x0 + rho * np.sin(th), y0 + rho0 - rho * np.cos(th)

    def inv(x, y):
        xr = np.asarray(x, float) - x0
        yr = rho0 - (np.asarray(y, float) - y0)
        rho = sgn * np.hypot(xr, yr)
        th = np.arctan2(sgn * xr, sgn * yr)
        q = (C - (rho * n / _A) ** 2) / n
        return (
            np.degrees(th / n + lon0_r),
            np.degrees(_lat_from_q(q)),
        )

    return _wrap_pair(fwd, inv)


def _stere_pair(
    lat0: float, lat_ts: float | None, k0: float,
    lon0: float, x0: float, y0: float
) -> tuple[Transform, Transform]:
    """POLAR stereographic (Snyder 21-33..21-41; lat_0 = +/-90 only —
    oblique aspects are not in the tiler's source families).  ``lat_ts``
    (standard parallel, variant B) beats ``k0`` (variant A) when given."""
    if abs(abs(lat0) - 90.0) > 1e-9:
        raise ValueError(
            f"stere supported in polar aspect only (+lat_0=90 or -90), "
            f"got lat_0={lat0}"
        )
    s = 1.0 if lat0 > 0 else -1.0
    if lat_ts is not None:
        pc = math.radians(abs(lat_ts))
        coef = _A * float(_m_sny(pc)) / float(_t_sny(np.asarray(pc)))
    else:
        coef = (
            2.0 * _A * k0
            / math.sqrt((1 + _E) ** (1 + _E) * (1 - _E) ** (1 - _E))
        )
    lon0_r = math.radians(lon0)

    def fwd(lon_deg, lat_deg):
        lat = s * np.radians(np.asarray(lat_deg, float))
        dlon = np.radians(np.asarray(lon_deg, float)) - lon0_r
        rho = coef * _t_sny(lat)
        return x0 + rho * np.sin(dlon), y0 - s * rho * np.cos(dlon)

    def inv(x, y):
        xr = np.asarray(x, float) - x0
        yr = np.asarray(y, float) - y0
        t = np.hypot(xr, yr) / coef
        return (
            np.degrees(lon0_r + np.arctan2(xr, -s * yr)),
            s * np.degrees(_lat_from_t(t)),
        )

    return _wrap_pair(fwd, inv)


def _wrap_pair(fwd: Transform, inv: Transform) -> tuple[Transform, Transform]:
    """(lon/lat forward, inverse) -> (to_merc, from_merc): the pair every
    projection family registers."""

    def to_merc(X, Y):
        lon, lat = inv(X, Y)
        return mercator.np_lonlat_to_merc(
            np.asarray(lon), np.clip(lat, -85.06, 85.06)
        )

    def from_merc(mx, my):
        lon = np.degrees(np.asarray(mx, float) / mercator.R)
        lat = np.degrees(
            2.0 * np.arctan(np.exp(np.asarray(my, float) / mercator.R)) - np.pi / 2.0
        )
        return fwd(lon, lat)

    return to_merc, from_merc


# ---------------------------------------------------------------------------
# Krovak (EPSG method 9819) + geocentric datum steps + pipeline interpreter
# — the reference's own production CRS: its README drives every Slovak
# orthophoto run with --source-srs EPSG:8353 and a krovak/cart/helmert/
# webmerc --transform-pipeline (README.md:75-77,168).  Formulas follow the
# public PROJ krovak implementation / EPSG Guidance Note 7-2.
# ---------------------------------------------------------------------------

# public EPSG ellipsoid constants: (a, 1/f)
_ELLPS = {
    "WGS84": (6378137.0, 298.257223563),
    "GRS80": (6378137.0, 298.257222101),
    "bessel": (6377397.155, 299.1528128),
}


class _Krovak:
    """Krovak oblique conformal conic on Bessel (S-JTSK).  Default sign
    convention is Krovak East North (EPSG:5514/8353: both coordinates
    negative); ``czech=True`` is PROJ's +czech (positive southing/
    westing).  +alpha in PROJ strings is accepted but unused — like PROJ,
    the cone azimuth is derived from the ellipsoid."""

    S45 = math.pi / 4.0
    UQ = 1.04216856380474       # DU(2, 59d42'42.69689'') — PROJ constant
    S0 = 1.37008346281555       # apex latitude 78d30'

    def __init__(self, lat0=49.5, lon0=24.833333333333333, k0=0.9999,
                 x0=0.0, y0=0.0, ellps="bessel", czech=False):
        a, rf = _ELLPS[ellps]
        f = 1.0 / rf
        self.a, self.es = a, f * (2.0 - f)
        self.e = math.sqrt(self.es)
        self.lon0 = math.radians(lon0)
        self.x0, self.y0 = x0, y0
        self.sign = 1.0 if czech else -1.0
        phi0 = math.radians(lat0)
        es, e = self.es, self.e
        self.alfa = math.sqrt(1.0 + es * math.cos(phi0) ** 4 / (1.0 - es))
        u0 = math.asin(math.sin(phi0) / self.alfa)
        g = ((1.0 + e * math.sin(phi0)) / (1.0 - e * math.sin(phi0))) ** (
            self.alfa * e / 2.0)
        self.k = (math.tan(u0 / 2.0 + self.S45)
                  / math.tan(phi0 / 2.0 + self.S45) ** self.alfa * g)
        n0 = math.sqrt(1.0 - es) / (1.0 - es * math.sin(phi0) ** 2)
        self.n = math.sin(self.S0)
        self.ro0 = k0 * n0 / math.tan(self.S0)
        self.ad = math.pi / 2.0 - self.UQ

    def fwd(self, lon: np.ndarray, lat: np.ndarray):
        """(lon, lat) radians on the ellipsoid -> Krovak meters."""
        lam = np.asarray(lon, float) - self.lon0
        phi = np.asarray(lat, float)
        e, alfa, n = self.e, self.alfa, self.n
        gfi = ((1.0 + e * np.sin(phi)) / (1.0 - e * np.sin(phi))) ** (
            alfa * e / 2.0)
        u = 2.0 * (np.arctan(self.k * np.tan(phi / 2.0 + self.S45) ** alfa
                             / gfi) - self.S45)
        deltav = -lam * alfa
        s = np.arcsin(np.cos(self.ad) * np.sin(u)
                      + np.sin(self.ad) * np.cos(u) * np.cos(deltav))
        d = np.arcsin(np.cos(u) * np.sin(deltav) / np.cos(s))
        eps = n * d
        ro = (self.ro0 * math.tan(self.S0 / 2.0 + self.S45) ** n
              / np.tan(s / 2.0 + self.S45) ** n)
        y = ro * np.cos(eps) * self.a * self.sign + self.y0
        x = ro * np.sin(eps) * self.a * self.sign + self.x0
        return x, y

    def inv(self, x: np.ndarray, y: np.ndarray):
        """Krovak meters -> (lon, lat) radians on the ellipsoid."""
        xr = (np.asarray(x, float) - self.x0) * self.sign / self.a
        yr = (np.asarray(y, float) - self.y0) * self.sign / self.a
        e, alfa, n = self.e, self.alfa, self.n
        ro = np.hypot(xr, yr)
        eps = np.arctan2(xr, yr)
        d = eps / self.n
        s = 2.0 * (np.arctan((self.ro0 / ro) ** (1.0 / n)
                             * math.tan(self.S0 / 2.0 + self.S45)) - self.S45)
        u = np.arcsin(np.cos(self.ad) * np.sin(s)
                      - np.sin(self.ad) * np.cos(s) * np.cos(d))
        deltav = np.arcsin(np.cos(s) * np.sin(d) / np.cos(u))
        lam = -deltav / alfa
        ku = self.k ** (-1.0 / alfa) * np.tan(u / 2.0 + self.S45) ** (1.0 / alfa)
        phi = u
        for _ in range(8):
            phi = 2.0 * (np.arctan(
                ku * ((1.0 + e * np.sin(phi)) / (1.0 - e * np.sin(phi)))
                ** (e / 2.0)) - self.S45)
        return lam + self.lon0, phi


def geodetic_to_cart(lon, lat, h, ellps="WGS84"):
    """Geodetic radians + ellipsoidal height -> geocentric XYZ meters."""
    a, rf = _ELLPS[ellps]
    f = 1.0 / rf
    es = f * (2.0 - f)
    sl = np.sin(lat)
    n = a / np.sqrt(1.0 - es * sl ** 2)
    return ((n + h) * np.cos(lat) * np.cos(lon),
            (n + h) * np.cos(lat) * np.sin(lon),
            (n * (1.0 - es) + h) * sl)


def cart_to_geodetic(X, Y, Z, ellps="WGS84"):
    """Geocentric XYZ -> geodetic radians + height (fixed-point, sub-mm)."""
    a, rf = _ELLPS[ellps]
    f = 1.0 / rf
    es = f * (2.0 - f)
    lon = np.arctan2(Y, X)
    p = np.hypot(X, Y)
    lat = np.arctan2(Z, p * (1.0 - es))
    h = np.zeros_like(p)
    for _ in range(6):
        sl = np.sin(lat)
        n = a / np.sqrt(1.0 - es * sl ** 2)
        h = p / np.cos(lat) - n
        lat = np.arctan2(Z, p * (1.0 - es * n / (n + h)))
    return lon, lat, h


def helmert7(tx, ty, tz, rx_as=0.0, ry_as=0.0, rz_as=0.0, s_ppm=0.0,
             convention="position_vector"):
    """7-parameter Helmert on geocentric XYZ (EPSG 1033/1032).  Rotations
    in arc-seconds, scale in ppm.  Returns (fwd, inv); inv uses the true
    matrix inverse so roundtrips are exact to float precision."""
    r = math.pi / (180.0 * 3600.0)
    rx, ry, rz = rx_as * r, ry_as * r, rz_as * r
    sc = 1.0 + s_ppm * 1e-6
    if convention == "coordinate_frame":
        m = np.array([[1.0, rz, -ry], [-rz, 1.0, rx], [ry, -rx, 1.0]])
    elif convention == "position_vector":
        m = np.array([[1.0, -rz, ry], [rz, 1.0, -rx], [-ry, rx, 1.0]])
    else:
        raise ValueError(f"unknown helmert convention {convention!r}")
    t = np.array([tx, ty, tz])
    mi = np.linalg.inv(sc * m)

    def fwd(X, Y, Z):
        v = sc * (m @ np.vstack([np.ravel(X), np.ravel(Y), np.ravel(Z)]))
        shp = np.shape(X)
        return (v[0].reshape(shp) + t[0], v[1].reshape(shp) + t[1],
                v[2].reshape(shp) + t[2])

    def inv(X, Y, Z):
        v = mi @ np.vstack([np.ravel(X) - t[0], np.ravel(Y) - t[1],
                            np.ravel(Z) - t[2]])
        shp = np.shape(X)
        return v[0].reshape(shp), v[1].reshape(shp), v[2].reshape(shp)

    return fwd, inv


def _krovak_pair(kr: _Krovak, towgs84=None, convention="position_vector"):
    """(to_merc, from_merc) for a Krovak CRS: inverse Krovak on Bessel,
    optional geocentric Helmert datum shift to WGS84, then WebMercator.
    Without ``towgs84`` the geodetic coordinates pass through unshifted
    (PROJ's null-transform behavior when no datum is given)."""
    if towgs84 is not None:
        p = list(towgs84) + [0.0] * (7 - len(towgs84))
        h_fwd, h_inv = helmert7(*p, convention=convention)
    else:
        h_fwd = h_inv = None

    def to_merc(X, Y):
        lon, lat = kr.inv(X, Y)
        if h_fwd is not None:
            cx, cy, cz = geodetic_to_cart(lon, lat, np.zeros_like(lon),
                                          "bessel")
            lon, lat, _ = cart_to_geodetic(*h_fwd(cx, cy, cz), "WGS84")
        return mercator.np_lonlat_to_merc(
            np.degrees(lon), np.clip(np.degrees(lat), -85.06, 85.06))

    def from_merc(mx, my):
        lon = np.asarray(mx, float) / mercator.R
        lat = 2.0 * np.arctan(np.exp(np.asarray(my, float) / mercator.R)) \
            - np.pi / 2.0
        if h_inv is not None:
            cx, cy, cz = geodetic_to_cart(lon, lat, np.zeros_like(lon),
                                          "WGS84")
            lon, lat, _ = cart_to_geodetic(*h_inv(cx, cy, cz), "bessel")
        return kr.fwd(lon, lat)

    return to_merc, from_merc


# S-JTSK datum shifts to WGS84 (public EPSG registry values; the 8353
# 7-parameter set is the one the reference's own pipeline carries)
_SJTSK_TOWGS84 = (589.0, 76.0, 480.0)
_JTSK03_HELMERT = (485.021, 169.465, 483.839,
                   -7.786342, -4.397554, -4.102655, 0.0)


def _compile_pipeline(proj: str) -> tuple[Transform, Transform]:
    """Execute a multi-step `+proj=pipeline` string (the reference's
    --transform-pipeline form, src/args.rs:36-38): each +step becomes a
    vectorized numpy stage over (x, y, z) state; from_merc runs the steps
    reversed with direction flipped.  Supported steps: krovak, cart,
    helmert (position_vector/coordinate_frame), push/pop +v_3, webmerc,
    and hgridshift as identity (grid files aren't shipped; in the
    reference's own JTSK03 pipeline the surrounding krovak steps then
    cancel exactly, leaving the documented no-grid approximation)."""
    parts = [p.strip() for p in proj.split("+step")]
    head = dict(
        tok.lstrip("+").partition("=")[::2]
        for tok in parts[0].split() if tok.startswith("+")
    )
    if head.get("proj") != "pipeline":
        raise ValueError("not a +proj=pipeline string")
    stages: list[tuple] = []  # (fwd_fn, inv_fn) on (x, y, z, stack)
    for step in parts[1:]:
        kv: dict[str, str | bool] = {}
        inv_flag = False
        for tok in step.split():
            tok = tok.lstrip("+")
            if tok == "inv":
                inv_flag = True
                continue
            k, _, v = tok.partition("=")
            kv[k] = v if v else True
        p = kv.get("proj")
        if p == "krovak":
            kr = _Krovak(
                lat0=float(str(kv.get("lat_0", 49.5))),
                lon0=float(str(kv.get("lon_0", 24.833333333333333))),
                k0=float(str(kv.get("k", kv.get("k_0", 0.9999)))),
                x0=float(str(kv.get("x_0", 0.0))),
                y0=float(str(kv.get("y_0", 0.0))),
                ellps=str(kv.get("ellps", "bessel")),
                czech=bool(kv.get("czech", False)),
            )

            def f(x, y, z, st, kr=kr):
                nx, ny = kr.fwd(x, y)
                return nx, ny, z, st

            def g(x, y, z, st, kr=kr):
                nx, ny = kr.inv(x, y)
                return nx, ny, z, st
        elif p == "cart":
            ell = str(kv.get("ellps", "WGS84"))

            def f(x, y, z, st, ell=ell):
                return (*geodetic_to_cart(x, y, z, ell),) + (st,)

            def g(x, y, z, st, ell=ell):
                return (*cart_to_geodetic(x, y, z, ell),) + (st,)
        elif p == "helmert":
            conv = str(kv.get("convention", "position_vector"))
            hf, hi = helmert7(
                float(str(kv.get("x", 0.0))), float(str(kv.get("y", 0.0))),
                float(str(kv.get("z", 0.0))), float(str(kv.get("rx", 0.0))),
                float(str(kv.get("ry", 0.0))), float(str(kv.get("rz", 0.0))),
                float(str(kv.get("s", 0.0))), convention=conv,
            )

            def f(x, y, z, st, hf=hf):
                return (*hf(x, y, z),) + (st,)

            def g(x, y, z, st, hi=hi):
                return (*hi(x, y, z),) + (st,)
        elif p in ("push", "pop"):
            if "v_3" not in kv:
                raise ValueError(f"only +v_3 push/pop supported: {step!r}")
            is_push = (p == "push") != inv_flag
            inv_flag = False  # direction folded into is_push

            def f(x, y, z, st, is_push=is_push):
                if is_push:
                    return x, y, z, st + [z]
                return x, y, st[-1], st[:-1]

            def g(x, y, z, st, is_push=is_push):
                if not is_push:
                    return x, y, z, st + [z]
                return x, y, st[-1], st[:-1]
        elif p == "hgridshift":
            def f(x, y, z, st):
                return x, y, z, st

            g = f
        elif p == "webmerc":
            def f(x, y, z, st):
                mx, my = mercator.np_lonlat_to_merc(
                    np.degrees(np.asarray(x, float)),
                    np.clip(np.degrees(np.asarray(y, float)), -85.06, 85.06))
                return mx, my, z, st

            def g(x, y, z, st):
                lon = np.asarray(x, float) / mercator.R
                lat = (2.0 * np.arctan(np.exp(np.asarray(y, float)
                                              / mercator.R)) - np.pi / 2.0)
                return lon, lat, z, st
        else:
            raise ValueError(f"unsupported pipeline step {step!r}")
        stages.append((g, f) if inv_flag else (f, g))

    def to_merc(X, Y):
        x = np.asarray(X, float)
        y = np.asarray(Y, float)
        z, st = np.zeros_like(x), []
        for fwd, _ in stages:
            x, y, z, st = fwd(x, y, z, st)
        return x, y

    def from_merc(mx, my):
        x = np.asarray(mx, float)
        y = np.asarray(my, float)
        z, st = np.zeros_like(x), []
        for _, inv in reversed(stages):
            x, y, z, st = inv(x, y, z, st)
        return x, y

    return to_merc, from_merc


def parse_proj_pipeline(proj: str) -> str:
    """Common `+proj=...` pipeline strings -> a CRS name this registry
    resolves (the reference accepts a PROJ pipeline via --transform-
    pipeline, src/args.rs:36-38 / src/warp.rs:22-77).  Supported:
    longlat/latlong (-> EPSG:4326), webmerc/3857-style merc, utm
    (+zone, +south), and general tmerc (+lon_0 +lat_0 +k/+k_0 +x_0
    +y_0) — the WGS84-ellipsoid forms the tiler's sources use.  tmerc
    strings register their transform pair under the normalized string
    and return it."""
    # multi-step pipelines first: a flat key-value parse would let later
    # +proj= tokens shadow the pipeline marker
    if "+proj=pipeline" in proj.split():
        name = " ".join(proj.split())
        if name not in _REGISTRY:
            _REGISTRY[name] = _compile_pipeline(proj)
        return name
    kv: dict[str, str | bool] = {}
    for tok in proj.split():
        tok = tok.lstrip("+")
        if not tok:
            continue
        k, _, v = tok.partition("=")
        kv[k] = v if v else True
    p = kv.get("proj")
    if p in ("longlat", "latlong", "lonlat"):
        return "EPSG:4326"
    if p == "webmerc" or (
        p == "merc" and kv.get("a") == "6378137" and kv.get("b") == "6378137"
    ):
        return "EPSG:3857"
    if p == "utm":
        zone = int(str(kv.get("zone", 0)))
        if not 1 <= zone <= 60:
            raise ValueError(f"utm pipeline needs +zone=1..60: {proj!r}")
        return f"EPSG:{327 if kv.get('south') else 326}{zone:02d}"
    if p == "tmerc":
        lon0 = float(str(kv.get("lon_0", 0.0)))
        lat0 = float(str(kv.get("lat_0", 0.0)))
        k0 = float(str(kv.get("k", kv.get("k_0", 1.0))))
        x0 = float(str(kv.get("x_0", 0.0)))
        y0 = float(str(kv.get("y_0", 0.0)))
        name = (f"+proj=tmerc +lat_0={lat0!r} +lon_0={lon0!r} +k={k0!r} "
                f"+x_0={x0!r} +y_0={y0!r}")
        if name not in _REGISTRY:
            _REGISTRY[name] = _tmerc_pair(lon0, lat0, k0, x0, y0)
        return name
    if p in ("lcc", "aea"):
        lat1 = float(str(kv.get("lat_1", 0.0)))
        lat2 = float(str(kv.get("lat_2", kv.get("lat_1", 0.0))))
        lat0 = float(str(kv.get("lat_0", 0.0)))
        lon0 = float(str(kv.get("lon_0", 0.0)))
        x0 = float(str(kv.get("x_0", 0.0)))
        y0 = float(str(kv.get("y_0", 0.0)))
        name = (f"+proj={p} +lat_1={lat1!r} +lat_2={lat2!r} +lat_0={lat0!r} "
                f"+lon_0={lon0!r} +x_0={x0!r} +y_0={y0!r}")
        if name not in _REGISTRY:
            mk = _lcc_pair if p == "lcc" else _aea_pair
            _REGISTRY[name] = mk(lat1, lat2, lat0, lon0, x0, y0)
        return name
    if p == "stere":
        # PROJ defaults a missing +lat_0 to 0 (OBLIQUE stereographic,
        # which _stere_pair rejects) — defaulting to 90 here would
        # silently flip a south-polar intent to the north aspect
        lat0 = float(str(kv.get("lat_0", 0.0)))
        lat_ts = float(str(kv["lat_ts"])) if "lat_ts" in kv else None
        k0 = float(str(kv.get("k", kv.get("k_0", 1.0))))
        lon0 = float(str(kv.get("lon_0", 0.0)))
        x0 = float(str(kv.get("x_0", 0.0)))
        y0 = float(str(kv.get("y_0", 0.0)))
        ts = f"+lat_ts={lat_ts!r} " if lat_ts is not None else ""
        name = (f"+proj=stere +lat_0={lat0!r} {ts}+k={k0!r} "
                f"+lon_0={lon0!r} +x_0={x0!r} +y_0={y0!r}")
        if name not in _REGISTRY:
            _REGISTRY[name] = _stere_pair(lat0, lat_ts, k0, lon0, x0, y0)
        return name
    if p == "krovak":
        lat0 = float(str(kv.get("lat_0", 49.5)))
        lon0 = float(str(kv.get("lon_0", 24.833333333333333)))
        k0 = float(str(kv.get("k", kv.get("k_0", 0.9999))))
        x0 = float(str(kv.get("x_0", 0.0)))
        y0 = float(str(kv.get("y_0", 0.0)))
        czech = bool(kv.get("czech", False))
        tow = None
        if "towgs84" in kv:
            tow = tuple(float(t) for t in str(kv["towgs84"]).split(","))
        name = (f"+proj=krovak +lat_0={lat0!r} +lon_0={lon0!r} +k={k0!r} "
                f"+x_0={x0!r} +y_0={y0!r}"
                + (" +czech" if czech else "")
                + (f" +towgs84={kv['towgs84']}" if tow else ""))
        if name not in _REGISTRY:
            kr = _Krovak(lat0, lon0, k0, x0, y0, czech=czech)
            _REGISTRY[name] = _krovak_pair(kr, towgs84=tow)
        return name
    raise ValueError(
        f"unsupported PROJ pipeline {proj!r}: longlat/webmerc/utm/tmerc/"
        f"lcc/aea/stere/krovak/pipeline forms are parsed"
    )


def normalize_crs(name: str) -> str:
    """Canonical registry name for ``name``: `+proj=...` strings parse to
    their EPSG/tmerc-registered equivalent, everything else passes
    through — so string comparisons against 'EPSG:4326'/'EPSG:3857'
    route pipeline spellings onto the native separable warp paths."""
    return parse_proj_pipeline(name) if name.startswith("+") else name


def lookup_crs(name: str) -> tuple[Transform, Transform] | None:
    """Resolve a CRS name to its transform pair; None if the warp should
    use its separable native paths (3857/4326).  Accepts the EPSG codes
    above and `+proj=...` pipeline strings (parse_proj_pipeline)."""
    name = normalize_crs(name)
    if name in ("EPSG:3857", "EPSG:4326"):
        return None
    if name not in _REGISTRY and name.startswith("EPSG:"):
        code = name[5:]
        if len(code) == 5 and code[:3] in ("326", "327") and code[3:].isdigit():
            zone = int(code[3:])
            if 1 <= zone <= 60:
                _REGISTRY[name] = _tmerc_pair(
                    zone * 6.0 - 183.0, 0.0, _K0, 500_000.0,
                    10_000_000.0 if code[:3] == "327" else 0.0)
        elif code == "5514":
            # S-JTSK / Krovak East North (3-param EPSG datum shift)
            _REGISTRY[name] = _krovak_pair(_Krovak(),
                                           towgs84=_SJTSK_TOWGS84)
        elif code == "8353":
            # S-JTSK [JTSK03] / Krovak East North — the reference's own
            # --source-srs (README.md:75); 7-param coordinate-frame
            # Helmert per its pipeline (grid-shift refinement omitted:
            # no .gsb in this container, documented approximation)
            _REGISTRY[name] = _krovak_pair(
                _Krovak(), towgs84=_JTSK03_HELMERT,
                convention="coordinate_frame")
    if name not in _REGISTRY:
        raise ValueError(
            f"unknown CRS {name!r}: supported natively EPSG:3857/4326, "
            f"auto EPSG:326xx/327xx (UTM) and EPSG:5514/8353 (Krovak); "
            f"name any other CRS by its `+proj=...` pipeline string"
        )
    return _REGISTRY[name]


def densified_merc_bbox(
    to_merc: Transform, x0: float, y0: float, x1: float, y1: float
) -> tuple[float, float, float, float]:
    """3857 bbox of a source-CRS rectangle, sampling 21 points per edge
    (curved edges under reprojection — transform_bounds-style densify)."""
    n = 21
    ts = np.linspace(0.0, 1.0, n)
    xs = np.concatenate([
        x0 + (x1 - x0) * ts, np.full(n, x1), x0 + (x1 - x0) * ts, np.full(n, x0),
    ])
    ys = np.concatenate([
        np.full(n, y0), y0 + (y1 - y0) * ts, np.full(n, y1), y0 + (y1 - y0) * ts,
    ])
    mx, my = to_merc(xs, ys)
    return float(mx.min()), float(my.min()), float(mx.max()), float(my.max())
