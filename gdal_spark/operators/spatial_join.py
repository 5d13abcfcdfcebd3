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
polygon edges ONCE into a tiny (zone, edge) table, broadcasts it, and
runs the even-odd crossing test as pure Column math with map-side
partial aggregation — the whole join stays inside whole-stage
codegen and scales linearly with cores.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.tiles import tilemath as tm

DEFAULT_INDEX_ZOOM = 7


def with_point_cell(
    df: DataFrame, lon: str, lat: str, zoom: int = DEFAULT_INDEX_ZOOM
) -> DataFrame:
    mx = tm.merc_x(F.col(lon))
    my = tm.merc_y(F.col(lat))
    tx, ty = tm.tile_xy_cols(mx, my, zoom)
    return df.withColumn("cell", tx.cast("long") * F.lit(1 << zoom) + ty.cast("long"))


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
    mxmin = tm.merc_x(F.col(xmin_deg))
    mxmax = tm.merc_x(F.col(xmax_deg))
    # clamp latitudes into mercator validity before projecting
    mymin = tm.merc_y(F.greatest(F.col(ymin_deg), F.lit(-tm.MAX_LAT)))
    mymax = tm.merc_y(F.least(F.col(ymax_deg), F.lit(tm.MAX_LAT)))
    min_tx, min_ty, max_tx, max_ty = tm.tile_range_cols(mxmin, mymin, mxmax, mymax, zoom)
    df = (
        df.withColumn("_tx", F.explode(F.sequence(min_tx, max_tx)))
        .withColumn("_ty", F.explode(F.sequence(min_ty, max_ty)))
    )
    return df.withColumn(
        "cell", F.col("_tx").cast("long") * F.lit(1 << zoom) + F.col("_ty").cast("long")
    ).drop("_tx", "_ty")


_EDGE_SCHEMA = T.StructType(
    [
        T.StructField("_zk", T.LongType()),
        T.StructField("ex1", T.DoubleType()),
        T.StructField("ey1", T.DoubleType()),
        T.StructField("ex2", T.DoubleType()),
        T.StructField("ey2", T.DoubleType()),
    ]
)


def zone_edges(zones_df: DataFrame, zone_key: str = "fid") -> DataFrame:
    """Explode polygon WKB into one row per ring edge (all rings —
    even-odd parity over the full edge set handles holes for free).
    Runs once over the polygon table; output is metadata-sized."""
    from gdal_spark.geo.wkb import parse_wkb

    def explode_edges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            zks, x1s, y1s, x2s, y2s = [], [], [], [], []
            for zk, wkb in zip(pdf[zone_key], pdf["geometry"]):
                geom = parse_wkb(bytes(wkb))
                for rings in geom.all_rings():
                    for ring in rings:
                        zks.extend([int(zk)] * (len(ring) - 1))
                        x1s.extend(ring[:-1, 0])
                        y1s.extend(ring[:-1, 1])
                        x2s.extend(ring[1:, 0])
                        y2s.extend(ring[1:, 1])
            yield pd.DataFrame(
                {"_zk": zks, "ex1": x1s, "ey1": y1s, "ex2": x2s, "ey2": y2s}
            )

    return zones_df.select(zone_key, "geometry").mapInPandas(
        explode_edges, _EDGE_SCHEMA
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
    zxmin, zymin, zxmax, zymax = zone_bbox
    pts = with_point_cell(points_df, point_lon, point_lat, index_zoom).select(
        point_key, point_lon, point_lat, "cell"
    )
    # WKB never ships through the candidate join; only the edges do
    zn = with_bbox_cells(
        zones_df.select(zone_key, *zone_bbox), zxmin, zymin, zxmax, zymax, index_zoom,
    )
    if broadcast_zones:
        zn = F.broadcast(zn)
    cand = pts.join(zn, "cell")
    # ladder step 1: columnar bbox reject before any exact test
    cand = cand.where(
        (F.col(point_lon) >= F.col(zxmin))
        & (F.col(point_lon) <= F.col(zxmax))
        & (F.col(point_lat) >= F.col(zymin))
        & (F.col(point_lat) <= F.col(zymax))
    )
    cand = cand.select(point_key, point_lon, point_lat, zone_key)
    edges = F.broadcast(zone_edges(zones_df, zone_key))
    px, py = F.col(point_lon), F.col(point_lat)
    straddles = (F.col("ey1") > py) != (F.col("ey2") > py)
    xint = F.col("ex1") + (py - F.col("ey1")) * (
        F.col("ex2") - F.col("ex1")
    ) / (F.col("ey2") - F.col("ey1"))
    crossing = F.when(straddles & (px < xint), F.lit(1)).otherwise(F.lit(0))
    joined = cand.join(edges, cand[zone_key] == edges["_zk"])
    return (
        joined.groupBy(point_key, zone_key)
        .agg(F.sum(crossing).alias("_crossings"))
        .where(F.col("_crossings") % 2 == 1)
        .select(point_key, zone_key)
    )
