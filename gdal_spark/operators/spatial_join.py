"""Distributed point-in-polygon / bbox-intersects spatial joins.

Semantics: the reference's FilterGeometry ladder applied layer-wide
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:2253-2325):
  1. bbox reject                      -> native Column predicates
  2-4. envelope accepts + exact refine -> even-odd crossing parity
       over the zone's edges (Column math; the accepts are subsumed)

Distribution strategy (SURVEY.md §2.4): both sides are keyed by
WebMercator quadtree cells at an index zoom (the engine's S2/H3-style
cell id); the candidate step is a plain equi-join Catalyst can
broadcast or shuffle-hash, AQE splits skewed cells. Points land in
exactly one cell (no dedupe needed); polygons explode to their
covering cells.

At 10^12 rows: the cell join is the only shuffle. The refine explodes
polygon edges ONCE into a tiny (zone, edge) table and broadcasts it.
The even-odd crossing test is in the edge-join condition, so only
crossing edges reach the (point, zone) aggregate and an odd count is
the parity; its division stays behind the straddle guard (horizontal
edges, ANSI mode). Cell, bbox and crossing expressions are SQL text
(the tilemath twins): one parse each, not py4j calls per operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.tiles import tilemath as tm

DEFAULT_INDEX_ZOOM = 7


def _point_cell_sql(lon: str, lat: str, zoom: int) -> str:
    mx = tm.sql_merc_x(tm.sql_ident(lon))
    my = tm.sql_merc_y(tm.sql_ident(lat))
    return tm.sql_cell_id(tm.sql_tile_x(mx, zoom), tm.sql_tile_y(my, zoom), zoom)


def with_point_cell(
    df: DataFrame, lon: str, lat: str, zoom: int = DEFAULT_INDEX_ZOOM
) -> DataFrame:
    return df.withColumn("cell", F.expr(_point_cell_sql(lon, lat, zoom)))


def with_bbox_cells(
    df: DataFrame,
    xmin_deg: str,
    ymin_deg: str,
    xmax_deg: str,
    ymax_deg: str,
    zoom: int = DEFAULT_INDEX_ZOOM,
) -> DataFrame:
    """Explode a degree-space bbox into covering cells at the index
    zoom (same GetTileIndices math as tiling)."""
    q = tm.sql_ident
    # clamp latitudes into mercator validity before projecting
    min_tx, min_ty, max_tx, max_ty = tm.sql_tile_range(
        tm.sql_merc_x(q(xmin_deg)),
        tm.sql_merc_y(f"greatest({q(ymin_deg)}, {tm.sql_double(-tm.MAX_LAT)})"),
        tm.sql_merc_x(q(xmax_deg)),
        tm.sql_merc_y(f"least({q(ymax_deg)}, {tm.sql_double(tm.MAX_LAT)})"),
        zoom,
    )
    return (
        df.withColumn("_tx", F.expr(f"explode(sequence({min_tx}, {max_tx}))"))
        .withColumn("_ty", F.expr(f"explode(sequence({min_ty}, {max_ty}))"))
        .withColumn("cell", F.expr(tm.sql_cell_id("_tx", "_ty", zoom)))
        .drop("_tx", "_ty")
    )


_EDGE_SCHEMA = "_zk long, ex1 double, ey1 double, ex2 double, ey2 double"


def _explode_edges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gdal_spark.geo.wkb import parse_wkb

    for pdf in batches:
        zks, x1s, y1s, x2s, y2s = [], [], [], [], []
        for zk, wkb in zip(pdf["_zk"], pdf["geometry"]):
            geom = parse_wkb(bytes(wkb))
            for rings in geom.all_rings():
                for ring in rings:
                    zks.extend([int(zk)] * (len(ring) - 1))
                    x1s.extend(ring[:-1, 0])
                    y1s.extend(ring[:-1, 1])
                    x2s.extend(ring[1:, 0])
                    y2s.extend(ring[1:, 1])
        yield pd.DataFrame({"_zk": zks, "ex1": x1s, "ey1": y1s, "ex2": x2s, "ey2": y2s})


def zone_edges(zones_df: DataFrame, zone_key: str = "fid") -> DataFrame:
    """Explode polygon WKB into one row per ring edge (all rings —
    even-odd parity over the full edge set handles holes for free).
    Runs once over the polygon table; output is metadata-sized."""
    return zones_df.selectExpr(f"{tm.sql_ident(zone_key)} AS _zk", "geometry").mapInPandas(
        _explode_edges, _EDGE_SCHEMA
    )


def pip_join(
    points_df: DataFrame,
    zones_df: DataFrame,
    point_key: str = "image_id",
    point_lon: str = "lon_c",
    point_lat: str = "lat_c",
    zone_key: str = "fid",
    zone_bbox: tuple[str, str, str, str] = ("zxmin", "zymin", "zxmax", "zymax"),
    index_zoom: int = DEFAULT_INDEX_ZOOM,
    broadcast_zones: bool = False,
) -> DataFrame:
    """Point-in-polygon join -> DataFrame(point_key, zone_key).

    zones_df needs (zone_key, geometry WKB, bbox columns in degrees).
    The refine is all-JVM even-odd crossing parity over the zones'
    broadcast edge table.
    """
    q = tm.sql_ident
    pk, px, py, zk = q(point_key), q(point_lon), q(point_lat), q(zone_key)
    zxmin, zymin, zxmax, zymax = map(q, zone_bbox)
    pts = points_df.selectExpr(
        pk, px, py, f"{_point_cell_sql(point_lon, point_lat, index_zoom)} AS cell"
    )
    # WKB never ships through the candidate join; only the edges do
    zn = with_bbox_cells(zones_df.select(zone_key, *zone_bbox), *zone_bbox, index_zoom)
    if broadcast_zones:
        zn = F.broadcast(zn)
    # ladder step 1: columnar bbox reject before any exact test
    cand = pts.join(zn, "cell").where(
        f"{px} >= {zxmin} AND {px} <= {zxmax} AND {py} >= {zymin} AND {py} <= {zymax}"
    )
    # only crossing edges reach the aggregate: the division stays
    # behind the straddle guard (ANSI mode, horizontal edges)
    crosses = F.expr(
        f"{zk} = _zk AND CASE WHEN (ey1 > {py}) <> (ey2 > {py}) "
        f"THEN {px} < ex1 + ({py} - ey1) * (ex2 - ex1) / (ey2 - ey1) ELSE false END"
    )
    return (
        cand.join(F.broadcast(zone_edges(zones_df, zone_key)), crosses)
        .groupBy(point_key, zone_key)
        .agg(F.expr("count(1) AS _crossings"))
        .where("_crossings % 2 = 1")
        .select(point_key, zone_key)
    )
