"""Tile math golden tests, incl. the reference's byte.tif anchor:
a 20x20 image at the canonical UTM-11 georef must land in WebMercator
tile 11/354/818 (autotest/utilities/test_gdalalg_raster_tile.py:53-56).
"""

import math
import re

import numpy as np
import pytest

from gdal_spark.geo.crs import utm_forward, utm_inverse
from gdal_spark.tiles import tilemath as tm


def test_resolution_constants():
    # gcore/tilematrixset.cpp:96-104 — z0 res = 2*pi*R/256
    assert tm.resolution(0) == pytest.approx(156543.0339280410, abs=1e-6)
    assert tm.resolution(12) == pytest.approx(38.21851414258813, rel=1e-12)
    assert tm.ORIGIN == pytest.approx(20037508.342789244, rel=1e-12)


def test_utm_roundtrip():
    lon = np.array([-117.64, -117.0, -116.2])
    lat = np.array([33.9, 33.0, 34.5])
    e, n = utm_forward(lon, lat, 11)
    lon2, lat2 = utm_inverse(e, n, 11)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_byte_tif_anchor_tile():
    """byte.tif: 20x20, geotransform (440720, 60, 0, 3751320, 0, -60),
    UTM zone 11. Reference tiling at z=11 produces exactly tile
    354/818 (XYZ)."""
    e = np.array([440720.0, 440720.0 + 20 * 60.0])
    n = np.array([3751320.0 - 20 * 60.0, 3751320.0])
    lon, lat = utm_inverse(e, n, 11)
    mx = tm.EARTH_RADIUS * np.radians(lon)
    my = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    z = 11
    span = tm.resolution(z) * tm.TILE_SIZE
    min_tx = math.floor((mx[0] + tm.ORIGIN) / span + 1e-3)
    max_tx = math.floor((mx[1] + tm.ORIGIN) / span + 1e-3)
    min_ty = math.floor((tm.ORIGIN - my[1]) / span + 1e-3)
    max_ty = math.floor((tm.ORIGIN - my[0]) / span + 1e-3)
    assert (min_tx, max_tx) == (354, 354)
    assert (min_ty, max_ty) == (818, 818)


def test_auto_max_zoom():
    # exact z-12 native resolution picks 12
    assert tm.auto_max_zoom(tm.resolution(12)) == 12
    # slightly coarser than z12 still rounds to 12 (closest rule)
    assert tm.auto_max_zoom(tm.resolution(12) * 1.3) == 12
    # halfway in log space rounds away; near-z11 picks 11
    assert tm.auto_max_zoom(tm.resolution(11) * 1.01) == 11


def test_tile_bounds_roundtrip():
    xmin, ymin, xmax, ymax = tm.tile_bounds(11, 354, 818)
    span = tm.resolution(11) * 256
    assert xmax - xmin == pytest.approx(span)
    assert ymax - ymin == pytest.approx(span)
    assert xmin == pytest.approx(-tm.ORIGIN + 354 * span)


def test_tile_cols_against_numpy(spark):
    """Column math == numpy math on random extents."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    n = 200
    cx = rng.uniform(-tm.ORIGIN * 0.9, tm.ORIGIN * 0.9, n)
    cy = rng.uniform(-tm.ORIGIN * 0.9, tm.ORIGIN * 0.9, n)
    half = rng.uniform(10, 50000, n)
    pdf = pd.DataFrame(
        {"xmin": cx - half, "ymin": cy - half, "xmax": cx + half, "ymax": cy + half,
         "k": np.arange(n)}
    )
    sdf = spark.createDataFrame(pdf)
    z = 9
    a, b, c, d = tm.tile_range_cols(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), z
    )
    out = (
        sdf.select(a.alias("a"), b.alias("b"), c.alias("c"), d.alias("d"))
        .toPandas()
        .to_numpy()
    )
    span = tm.resolution(z) * 256
    nmax = (1 << z) - 1

    def snap(v):
        return np.clip(np.floor(v + 1e-3), 0, nmax).astype(int)

    exp = np.stack(
        [
            snap((pdf.xmin.to_numpy() + tm.ORIGIN) / span),
            snap((tm.ORIGIN - pdf.ymax.to_numpy()) / span),
            snap((pdf.xmax.to_numpy() + tm.ORIGIN) / span),
            snap((tm.ORIGIN - pdf.ymin.to_numpy()) / span),
        ],
        axis=1,
    )
    assert np.array_equal(out, exp)

    # assign_tiles' exploded rows: every (x, y) of each numpy range, TMS y
    from gdal_spark.operators.tiling import assign_tiles

    got = sorted(
        assign_tiles(sdf, z, convention="tms").select("k", "tile_x", "tile_y").collect()
    )
    rows = sorted(
        (k, tx, nmax - ty)
        for k, (x0, y0, x1, y1) in enumerate(exp.tolist())
        for tx in range(x0, x1 + 1)
        for ty in range(y0, y1 + 1)
    )
    assert [tuple(r) for r in got] == rows
    assert len(rows) > n  # some extents span several tiles


def test_point_cells_against_numpy(spark):
    """with_point_cell == numpy mercator + floor/snap/clamp cell key."""
    import pandas as pd

    from gdal_spark.operators.spatial_join import with_point_cell

    rng = np.random.default_rng(5)
    n = 500
    pdf = pd.DataFrame(
        {"lon c": rng.uniform(-180, 180, n), "lat.c": rng.uniform(-89.9, 89.9, n)}
    )
    pdf["k"] = np.arange(n)
    for z in (7, 12):
        got = (
            with_point_cell(spark.createDataFrame(pdf), "lon c", "lat.c", z)
            .select("k", "cell").toPandas().sort_values("k")["cell"].to_numpy()
        )
        mx = tm.EARTH_RADIUS * np.radians(pdf["lon c"].to_numpy())
        lat = pdf["lat.c"].to_numpy()
        my = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
        span = tm.resolution(z) * 256
        nmax = (1 << z) - 1

        def snap(v):
            return np.clip(np.floor(v + 1e-3), 0, nmax).astype(np.int64)

        exp = snap((mx + tm.ORIGIN) / span) * (1 << z) + snap((tm.ORIGIN - my) / span)
        assert np.array_equal(got, exp)


def _optimized(spark, names, *cols):
    """The optimized plan of `cols` over double columns `names`, with
    exprIds stripped. A Range source keeps the projection from being
    folded into a local relation."""
    from pyspark.sql import functions as F

    src = spark.range(1).select(
        *[F.col("id").cast("double").alias(n) for n in names]
    )
    plan = src.select(*[c.alias(f"v{k}") for k, c in enumerate(cols)])
    return re.sub(r"#\d+", "", plan._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("z", [7, 12])
@pytest.mark.parametrize("convention", ["xyz", "tms"])
@pytest.mark.parametrize("names", [("lon", "lat"), ("lon c", "lat.c")])
def test_sql_twins_optimize_like_column_builders(spark, z, convention, names):
    """The SQL-text cell and tile-range expressions the join and tiling
    operators parse optimize to the same Catalyst expressions as the
    Column builders, identifiers with a space or dot included."""
    from pyspark.sql import functions as F

    lon, lat = names
    q = tm.sql_ident
    col_lon, col_lat = F.col(q(lon)), F.col(q(lat))
    # point cell: mercator, then floor + snap + clamp, then the cell key
    cell = tm.cell_id(*tm.tile_xy_cols(tm.merc_x(col_lon), tm.merc_y(col_lat), z), z)
    sql_cell = tm.sql_cell_id(
        tm.sql_tile_x(tm.sql_merc_x(q(lon)), z), tm.sql_tile_y(tm.sql_merc_y(q(lat)), z), z
    )
    # the latitude clamp of the zone-bbox cells
    clamp = tm.merc_y(F.least(col_lat, F.lit(tm.MAX_LAT)))
    sql_clamp = tm.sql_merc_y(f"least({q(lat)}, {tm.sql_double(tm.MAX_LAT)})")
    # tile range over an EPSG:3857 extent, then the file-y convention
    rng = list(tm.tile_range_cols(col_lon, col_lat, col_lat, col_lon, z))
    sql_rng = list(tm.sql_tile_range(q(lon), q(lat), q(lat), q(lon), z))
    sql_rng = [F.expr(c) for c in sql_rng]
    for cols in (rng, sql_rng):
        cols[1], cols[3] = (tm.file_y(c, z, convention) for c in (cols[1], cols[3]))
    got = _optimized(spark, names, F.expr(sql_cell), F.expr(sql_clamp), *sql_rng)
    exp = _optimized(spark, names, cell, clamp, *rng)
    assert got == exp
    assert str(1 << z) in got and "FLOOR" in got


def test_quadkey_known_values(spark):
    """Microsoft quadkey example: tile (3, 5, z=3) -> '213'."""
    import pandas as pd
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(pd.DataFrame({"x": [3, 0, 7], "y": [5, 0, 7]}))
    out = sdf.select(
        tm.quadkey_col(F.col("x"), F.col("y"), 3).alias("qk")
    ).toPandas()["qk"].tolist()
    # digit = bx + 2*by per level, MSB first
    def ref_qk(x, y, z):
        s = ""
        for i in range(z, 0, -1):
            d = 0
            mask = 1 << (i - 1)
            if x & mask:
                d += 1
            if y & mask:
                d += 2
            s += str(d)
        return s

    assert out == [ref_qk(3, 5, 3), "000", "333"]
    assert ref_qk(3, 5, 3) == "213"


def test_tile_bounds_deg_world():
    from gdal_spark.tiles.tilemath import tile_bounds_deg

    w, s, e, n = tile_bounds_deg(0, 0, 0)
    assert abs(w + 180.0) < 1e-9 and abs(e - 180.0) < 1e-9
    assert abs(n - 85.0511287798066) < 1e-6
    assert abs(s + 85.0511287798066) < 1e-6


def test_viewer_sinks():
    from gdal_spark.tiles.viewers import leaflet_html, tile_kml

    html = leaflet_html("demo", 10, 12, 2.5, 43.1)
    assert "L.tileLayer" in html and "minZoom: 10" in html and "maxZoom: 12" in html
    kml = tile_kml(11, 354, 818)
    assert "<GroundOverlay>" in kml and "11/354/818.png" in kml
    assert "<north>" in kml
