"""Coordinate transforms (pure numpy; public Krüger/Karney series).

The reference delegates CRS transforms to PROJ
(ogr/ogrct.cpp:1018,1091). This engine needs exactly two families:

- EPSG:4326 <-> EPSG:3857 (closed form; also in tiles.tilemath as
  Column math) — the only transform the tiling path uses.
- Transverse Mercator (UTM) forward/inverse — used to ingest
  UTM-georeferenced sources (e.g. the reference's canonical
  autotest fixture byte.tif, EPSG:26711) into the WebMercator world.

Series coefficients to n^3 (≈ 0.1 mm accuracy) from the standard
Krüger expansion as presented by Karney (2011), public literature.
"""

from __future__ import annotations

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

K0 = 0.9996
FALSE_EASTING = 500000.0
FALSE_NORTHING_SOUTH = 10000000.0


def _coeffs():
    n = WGS84_F / (2.0 - WGS84_F)
    A = WGS84_A / (1.0 + n) * (1.0 + n**2 / 4.0 + n**4 / 64.0)
    alpha = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 5.0 * n**3 / 16.0,
        13.0 * n**2 / 48.0 - 3.0 * n**3 / 5.0,
        61.0 * n**3 / 240.0,
    )
    beta = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 37.0 * n**3 / 96.0,
        n**2 / 48.0 + n**3 / 15.0,
        17.0 * n**3 / 480.0,
    )
    delta = (
        2.0 * n - 2.0 * n**2 / 3.0 - 2.0 * n**3,
        7.0 * n**2 / 3.0 - 8.0 * n**3 / 5.0,
        56.0 * n**3 / 15.0,
    )
    return n, A, alpha, beta, delta


_N, _A, _ALPHA, _BETA, _DELTA = _coeffs()


def utm_forward(lon, lat, zone: int):
    """(lon, lat) degrees -> UTM (easting, northing) on WGS84."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    lon0 = np.radians(zone * 6.0 - 183.0)
    e = np.sqrt(WGS84_F * (2.0 - WGS84_F))
    t = np.sinh(
        np.arctanh(np.sin(lat)) - e * np.arctanh(e * np.sin(lat))
    )
    xi = np.arctan2(t, np.cos(lon - lon0))
    eta = np.arctanh(np.sin(lon - lon0) / np.sqrt(1.0 + t * t))
    xs = xi.copy()
    es = eta.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xs = xs + a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es + a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    easting = FALSE_EASTING + K0 * _A * es
    northing = K0 * _A * xs
    return easting, northing


# ---------------------------------------------------------------------------
# SQL twins (DuckDB oracles) — hyperbolics via exp/ln
# ---------------------------------------------------------------------------

def _d(x: float) -> str:
    return f"cast('{x!r}' as double)"  # quoted: see tilemath.sql_double


def _sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def _cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


def sql_utm_inverse(easting: str, northing: str, zone: int) -> tuple[str, str]:
    """(lon_deg, lat_deg) SQL expressions; mirrors utm_inverse."""
    xi = f"(({northing}) / {_d(K0 * _A)})"
    eta = f"((({easting}) - {_d(FALSE_EASTING)}) / {_d(K0 * _A)})"
    xs = xi
    es = eta
    for j, b in enumerate(_BETA, start=1):
        xs = f"({xs} - {_d(b)} * sin({2*j} * {xi}) * {_cosh(f'{2*j} * {eta}')})"
        es = f"({es} - {_d(b)} * cos({2*j} * {xi}) * {_sinh(f'{2*j} * {eta}')})"
    chi = f"asin(sin({xs}) / {_cosh(es)})"
    lat = chi
    for j, d in enumerate(_DELTA, start=1):
        lat = f"({lat} + {_d(d)} * sin({2*j} * {chi}))"
    lon0 = zone * 6.0 - 183.0
    lon = f"({_d(lon0)} + degrees(atan2({_sinh(es)}, cos({xs}))))"
    return lon, f"degrees({lat})"


def utm_inverse(easting, northing, zone: int, northern: bool = True):
    """UTM (easting, northing) -> (lon, lat) degrees on WGS84."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    if not northern:
        northing = northing - FALSE_NORTHING_SOUTH
    xi = northing / (K0 * _A)
    eta = (easting - FALSE_EASTING) / (K0 * _A)
    xs = xi.copy()
    es = eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xs = xs - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xs) / np.cosh(es))
    lat = chi.copy()
    for j, d in enumerate(_DELTA, start=1):
        lat = lat + d * np.sin(2 * j * chi)
    lon0 = zone * 6.0 - 183.0
    lon = lon0 + np.degrees(np.arctan2(np.sinh(es), np.cos(xs)))
    return lon, np.degrees(lat)


# ---------------------------------------------------------------------------
# Lambert Conformal Conic (2SP, ellipsoidal) — the closed-form CRS
# family extension beyond UTM/WebMercator (reference routes any pair
# through PROJ, ogr/ogrct.cpp:1018; formulas per EPSG guidance 7-2 /
# Snyder 15). numpy and SQL twins share the exp(c * ln(x)) staging so
# both engines walk identical expression trees.
# ---------------------------------------------------------------------------

LCC_E = float((WGS84_F * (2.0 - WGS84_F)) ** 0.5)  # first eccentricity


def _lcc_t(phi):
    import numpy as _np

    e = LCC_E
    s = _np.sin(phi)
    return _np.tan(_np.pi / 4.0 - phi / 2.0) / _np.exp(
        (e / 2.0) * _np.log((1.0 - e * s) / (1.0 + e * s))
    )


def _lcc_m(phi):
    import numpy as _np

    e = LCC_E
    s = _np.sin(phi)
    return _np.cos(phi) / _np.sqrt(1.0 - e * e * s * s)


def lcc_params(lat1_deg: float, lat2_deg: float, lat0_deg: float):
    """(n, F, rho0) of the 2SP cone."""
    import numpy as _np

    p1, p2, p0 = (_np.radians(v) for v in (lat1_deg, lat2_deg, lat0_deg))
    m1, m2 = _lcc_m(p1), _lcc_m(p2)
    t1, t2, t0 = _lcc_t(p1), _lcc_t(p2), _lcc_t(p0)
    n = (_np.log(m1) - _np.log(m2)) / (_np.log(t1) - _np.log(t2))
    Fc = m1 / (n * _np.exp(n * _np.log(t1)))
    rho0 = WGS84_A * Fc * _np.exp(n * _np.log(t0))
    return float(n), float(Fc), float(rho0)


def lcc_forward(lon, lat, lat1_deg: float, lat2_deg: float,
                lat0_deg: float, lon0_deg: float):
    """(x, y) LCC 2SP easting/northing (false origin 0, 0)."""
    import numpy as _np

    n, Fc, rho0 = lcc_params(lat1_deg, lat2_deg, lat0_deg)
    phi = _np.radians(_np.asarray(lat, dtype=_np.float64))
    lam = _np.radians(_np.asarray(lon, dtype=_np.float64))
    t = _lcc_t(phi)
    rho = WGS84_A * Fc * _np.exp(n * _np.log(t))
    th = n * (lam - _np.radians(lon0_deg))
    return rho * _np.sin(th), rho0 - rho * _np.cos(th)


def lcc_inverse(x, y, lat1_deg: float, lat2_deg: float,
                lat0_deg: float, lon0_deg: float, iters: int = 8):
    """Inverse LCC: iterate the conformal-latitude relation."""
    import numpy as _np

    e = LCC_E
    n, Fc, rho0 = lcc_params(lat1_deg, lat2_deg, lat0_deg)
    x = _np.asarray(x, dtype=_np.float64)
    y = _np.asarray(y, dtype=_np.float64)
    rho = _np.sign(n) * _np.sqrt(x * x + (rho0 - y) ** 2)
    th = _np.arctan2(x, rho0 - y)
    t = _np.exp(_np.log(rho / (WGS84_A * Fc)) / n)
    phi = _np.pi / 2.0 - 2.0 * _np.arctan(t)
    for _ in range(iters):
        s = _np.sin(phi)
        phi = _np.pi / 2.0 - 2.0 * _np.arctan(
            t * _np.exp((e / 2.0) * _np.log((1.0 - e * s) / (1.0 + e * s)))
        )
    return _np.degrees(th / n + _np.radians(lon0_deg)), _np.degrees(phi)


def sql_lcc_forward(lon_deg: str, lat_deg: str, lat1_deg: float,
                    lat2_deg: float, lat0_deg: float, lon0_deg: float
                    ) -> tuple[str, str]:
    """DuckDB SQL twins of lcc_forward: the cone constants fold to
    float literals (computed by the SAME numpy path), and the per-row
    math uses identical exp/ln staging."""
    import math as _math

    n, Fc, rho0 = lcc_params(lat1_deg, lat2_deg, lat0_deg)
    e = LCC_E
    a = WGS84_A
    phi = f"radians({lat_deg})"
    s = f"sin({phi})"
    t = (
        f"(tan(pi() / 4.0 - {phi} / 2.0) / exp({_d(e / 2.0)} * "
        f"ln((1.0 - {_d(e)} * {s}) / (1.0 + {_d(e)} * {s}))))"
    )
    rho = f"({_d(a)} * {_d(Fc)} * exp({_d(n)} * ln({t})))"
    th = f"({_d(n)} * (radians({lon_deg}) - {_d(_math.radians(lon0_deg))}))"
    return f"({rho} * sin({th}))", f"({_d(rho0)} - {rho} * cos({th}))"
