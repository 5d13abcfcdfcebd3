"""WebMercatorQuad tile-matrix math as native Spark Column expressions.

Semantics re-derived from the reference (NOT ported code):

- WebMercatorQuad constants: CRS EPSG:3857, R = 6378137, origin
  (-pi*R, +pi*R), 256 px tiles, matrix 2^z x 2^z,
  res(z) = 2*pi*R / (256 * 2^z)          [gcore/tilematrixset.cpp:71-107]
- Tile-range assignment with the deliberate EPSILON = 1e-3 inward snap
  and [0, 2^z - 1] clamp                  [apps/gdalalg_raster_tile.cpp:274-342]
- XYZ vs TMS y convention: tms_y = 2^z - 1 - y
                                          [apps/gdalalg_raster_tile.cpp:348-352]
- Quadkey bit interleave (Microsoft scheme)
                                          [gdal2tiles.py:517-531]
- Auto max-zoom: smallest z with res(z) <= native res (1e-8 rel eps),
  then round to the closest of z / z-1 by resolution ratio
                                          [apps/gdalalg_raster_tile.cpp:2459-2507]

Everything here is a pure Column expression -> whole-stage codegen,
no UDFs, no shuffle. At 10^12 rows this is a single narrow map stage.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0
ORIGIN = math.pi * EARTH_RADIUS  # 20037508.342789244
TILE_SIZE = 256
EPSILON = 1e-3  # the reference's inward snap epsilon
MAX_LAT = 85.0511287798066  # atan(sinh(pi)) in degrees — mercator validity


def resolution(z: int, tile_size: int = TILE_SIZE) -> float:
    """Meters per pixel at zoom z (gcore/tilematrixset.cpp:96-104)."""
    return 2.0 * ORIGIN / (tile_size * (1 << z))


# ---------------------------------------------------------------------------
# EPSG:4326 <-> EPSG:3857 as Column math (closed form, exact)
# ---------------------------------------------------------------------------

def merc_x(lon: Column) -> Column:
    return F.lit(EARTH_RADIUS) * F.radians(lon)


def merc_y(lat: Column) -> Column:
    rad = F.radians(lat)
    return F.lit(EARTH_RADIUS) * F.log(F.tan(F.lit(math.pi / 4.0) + rad / F.lit(2.0)))


def inv_merc_lon(x: Column) -> Column:
    return F.degrees(x / F.lit(EARTH_RADIUS))


def inv_merc_lat(y: Column) -> Column:
    return F.degrees(
        F.lit(2.0) * F.atan(F.exp(y / F.lit(EARTH_RADIUS))) - F.lit(math.pi / 2.0)
    )


# ---------------------------------------------------------------------------
# Tile indexing (GetTileIndices semantics)
# ---------------------------------------------------------------------------

def _snap_floor_clamp(v: Column, z: int) -> Column:
    """floor(v + EPSILON) clamped to [0, 2^z - 1] — the reference's rule."""
    n = (1 << z) - 1
    idx = F.floor(v + F.lit(EPSILON))
    return F.greatest(F.lit(0), F.least(F.lit(n), idx)).cast("int")


def tile_xy_cols(mx: Column, my: Column, z: int) -> tuple[Column, Column]:
    """Tile (x, y) containing a single EPSG:3857 point at zoom z (XYZ)."""
    tile_span = resolution(z) * TILE_SIZE
    tx = _snap_floor_clamp((mx - F.lit(-ORIGIN)) / F.lit(tile_span), z)
    ty = _snap_floor_clamp((F.lit(ORIGIN) - my) / F.lit(tile_span), z)
    return tx, ty


def tile_range_cols(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, z: int
) -> tuple[Column, Column, Column, Column]:
    """Min/max tile indices covering an EPSG:3857 extent at zoom z.

    Mirrors GetTileIndices (apps/gdalalg_raster_tile.cpp:274-342):
    all four edges use floor(v + 1e-3) then clamp. Note max edges use
    the SAME +epsilon floor (inward snap on the far edge).
    """
    tile_span = resolution(z) * TILE_SIZE
    min_tx = _snap_floor_clamp((xmin - F.lit(-ORIGIN)) / F.lit(tile_span), z)
    max_tx = _snap_floor_clamp((xmax - F.lit(-ORIGIN)) / F.lit(tile_span), z)
    min_ty = _snap_floor_clamp((F.lit(ORIGIN) - ymax) / F.lit(tile_span), z)
    max_ty = _snap_floor_clamp((F.lit(ORIGIN) - ymin) / F.lit(tile_span), z)
    return min_tx, min_ty, max_tx, max_ty


def file_y(y: Column, z: int, convention: str = "xyz") -> Column:
    """XYZ keeps y; TMS flips (apps/gdalalg_raster_tile.cpp:348-352)."""
    if convention == "xyz":
        return y
    if convention == "tms":
        return F.lit((1 << z) - 1) - y
    raise ValueError(f"unknown tile y convention: {convention}")


def quadkey_col(x: Column, y: Column, z: int) -> Column:
    """Microsoft quadkey: digit_i = bit_x + 2*bit_y at each level
    (gdal2tiles.py:517-531). Built as a concat chain of Column math —
    no UDF; z string digits per row.
    """
    digits = []
    for i in range(z, 0, -1):
        shift = 1 << (i - 1)
        bx = (F.floor(x / F.lit(shift)) % 2).cast("int")
        by = (F.floor(y / F.lit(shift)) % 2).cast("int")
        digits.append((bx + by * 2).cast("string"))
    if not digits:
        return F.lit("")
    return F.concat(*digits)


def cell_id(x: Column, y: Column, z: int) -> Column:
    """Pack (x, y) at fixed zoom z into one long: x * 2^z + y.

    This is the engine's S2/H3-style cell key (quadkey cells at the
    index zoom) — a single long equi-join key for spatial joins; see
    SURVEY.md §2.4. z <= 30.
    """
    return (x.cast("long") * F.lit(1 << z) + y.cast("long")).alias("cell")


def auto_max_zoom(native_res: float, tile_size: int = TILE_SIZE) -> int:
    """Smallest z whose res(z) <= native_res (rel eps 1e-8), then round
    to the closest of z/z-1 by resolution ratio
    (apps/gdalalg_raster_tile.cpp:2459-2507).
    """
    z = 0
    while z < 30 and resolution(z, tile_size) > native_res * (1 + 1e-8):
        z += 1
    if z > 0:
        # round to closest by ratio: prefer z-1 if its res is closer
        r_hi = native_res / resolution(z, tile_size)      # >= 1
        r_lo = resolution(z - 1, tile_size) / native_res  # >= 1
        if r_lo < r_hi:
            z -= 1
    return z


# ---------------------------------------------------------------------------
# numpy twins (used inside pandas UDFs for per-tile pixel math)
# ---------------------------------------------------------------------------

def np_inv_merc(x, y):
    import numpy as np

    lon = np.degrees(x / EARTH_RADIUS)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / EARTH_RADIUS)) - np.pi / 2.0)
    return lon, lat


def tile_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """EPSG:3857 (xmin, ymin, xmax, ymax) of an XYZ tile."""
    span = resolution(z) * TILE_SIZE
    xmin = -ORIGIN + x * span
    ymax = ORIGIN - y * span
    return xmin, ymax - span, xmin + span, ymax


def tile_bounds_deg(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """WGS84 (west, south, east, north) of an XYZ tile."""
    xmin, ymin, xmax, ymax = tile_bounds(z, x, y)
    lon_w, lat_s = np_inv_merc(xmin, ymin)
    lon_e, lat_n = np_inv_merc(xmax, ymax)
    return float(lon_w), float(lat_s), float(lon_e), float(lat_n)


# ---------------------------------------------------------------------------
# SQL-text twins (shared with DuckDB oracles; both dialects parse these).
# Through F.expr they optimize to the same Catalyst as the builders above.
# ---------------------------------------------------------------------------

def sql_ident(name: str) -> str:
    """A column name as a Spark SQL identifier (backtick-quoted)."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """A float literal that parses to the IDENTICAL double in Spark
    SQL and DuckDB: quoted repr + explicit cast.  The quotes matter —
    an unquoted literal parses as DECIMAL first, and DuckDB's
    DECIMAL->DOUBLE conversion double-rounds (int128 / 10^scale), off
    by one ulp for reprs like 15.402921800749363; string->double is
    correctly rounded in both engines."""
    return f"cast('{x!r}' as double)"


def sql_merc_x(lon: str) -> str:
    return f"({sql_double(EARTH_RADIUS)} * radians({lon}))"


def sql_merc_y(lat: str) -> str:
    return (
        f"({sql_double(EARTH_RADIUS)} * "
        f"ln(tan({sql_double(math.pi / 4.0)} + radians({lat}) / 2.0)))"
    )


def sql_tile_index(v_expr: str, z: int) -> str:
    """floor(v + eps) clamp [0, 2^z-1] — dialect-neutral SQL."""
    n = (1 << z) - 1
    return (
        f"cast(greatest(0, least({n}, floor({v_expr} + {sql_double(EPSILON)}))) as int)"
    )


def sql_tile_x(mx_expr: str, z: int) -> str:
    span = resolution(z) * TILE_SIZE
    return sql_tile_index(f"(({mx_expr}) - ({sql_double(-ORIGIN)})) / {sql_double(span)}", z)


def sql_tile_y(my_expr: str, z: int) -> str:
    span = resolution(z) * TILE_SIZE
    return sql_tile_index(f"(({sql_double(ORIGIN)}) - ({my_expr})) / {sql_double(span)}", z)


def sql_tile_range(
    xmin: str, ymin: str, xmax: str, ymax: str, z: int
) -> tuple[str, str, str, str]:
    """SQL twin of `tile_range_cols`: (min_tx, min_ty, max_tx, max_ty)."""
    return sql_tile_x(xmin, z), sql_tile_y(ymax, z), sql_tile_x(xmax, z), sql_tile_y(ymin, z)


def sql_cell_id(x: str, y: str, z: int) -> str:
    """SQL twin of `cell_id` (Spark SQL: `bigint` casts)."""
    return f"cast({x} as bigint) * {1 << z} + cast({y} as bigint)"
