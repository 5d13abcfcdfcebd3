"""Tile assignment — the north-star operator family (SURVEY.md §2.10).

Maps every image footprint (EPSG:3857 bbox) to the WebMercator tiles
it covers at zoom z, per the reference's GetTileIndices semantics
(apps/gdalalg_raster_tile.cpp:274-342: floor + 1e-3 inward snap +
clamp to the matrix) and XYZ/TMS y conventions (:348-352).

Plan shape at scale: a narrow map (pure Column math) + one explode —
no UDF, no shuffle until the consumer aggregates. The per-image tile
list is tiny (images are O(1) tiles at native zoom), so explode
amplification is bounded; `max_tiles_per_image` guards against
degenerate inputs producing runaway fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.tiles import tilemath as tm


def assign_tiles(
    df: DataFrame,
    z: int,
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
    convention: str = "xyz",
    max_tiles_per_image: int = 4096,
) -> DataFrame:
    """Explode each row into its covering (z, x, y) tiles at zoom z.

    Keeps all input columns; adds tile_z, tile_x, tile_y.
    """
    q = tm.sql_ident
    rng = tm.sql_tile_range(q(xmin), q(ymin), q(xmax), q(ymax), z)
    names = ("_min_tx", "_min_ty", "_max_tx", "_max_ty")
    return (
        df.withColumns({c: F.expr(e) for c, e in zip(names, rng)})
        .where(f"(_max_tx - _min_tx + 1) * (_max_ty - _min_ty + 1) <= {int(max_tiles_per_image)}")
        .withColumn("tile_x", F.expr("explode(sequence(_min_tx, _max_tx))"))
        .withColumn("tile_y_raw", F.expr("explode(sequence(_min_ty, _max_ty))"))
        .withColumns({"tile_z": F.lit(z), "tile_y": tm.file_y(F.col("tile_y_raw"), z, convention)})
        .drop(*names, "tile_y_raw")
    )


def tile_counts(assigned: DataFrame) -> DataFrame:
    """Images per tile — the flagship aggregation. Partial (map-side)
    aggregation is automatic; the shuffle key (z,x,y) is the natural
    layout key of the output tiles table."""
    return assigned.groupBy("tile_z", "tile_x", "tile_y").agg(F.expr("count(1) AS n_images"))
