"""Distributed tile rendering (gdalwarp + gdal raster tile semantics)
and overview-pyramid construction.

Pipeline shape (SURVEY.md §2.10, §3.3; apps/gdalalg_raster_tile.cpp):

  images -> covering tiles (Column math)        -- no UDF, no shuffle
         -> groupBy(tile_x, tile_y)             -- the ONE shuffle
         -> applyInPandas warp+composite        -- 256x256 buffers
         -> tiles table (checksum / png bytes)
  z-1 pass: groupBy(parent tile) of 4 children -> 2x2 average

Warp semantics per gdalwarpkernel.cpp (see raster/resample.py).
Composite order: ascending image id, last writer wins (mirrors
gdalbuildvrt default source order, apps/gdalbuildvrt_lib.cpp).

Scale notes: per-tile work is bounded (<= 256*256 px x images-on-
tile), but it is Python work: decode, warp and checksum cost
milliseconds per row while the row itself is a few KiB of payload or
one 64 KiB band plane. AQE sizes coalesced shuffle partitions by
bytes (max(1 MiB, shuffle bytes / defaultParallelism)), so a level
whose shuffle is under 1 MiB becomes ONE task and one core renders
it while the rest idle; larger levels are cut by bytes, not work. Every tile-keyed applyInPandas here therefore
groups through `_tile_groups`, an explicit hash repartition on the
tile keys: AQE never coalesces a repartition-by-number, and the hash
partitioning already satisfies the groupBy, so it is still the ONE
shuffle. The count is one partition per core, raised to one per
PAIRS_PER_TASK covering pairs when the caller knows the level's size
(build_pyramid counts it): small levels run best as a single wave
(two and three tasks per core measured 14% and 30% slower on a
14-image pyramid, and no faster on 300 images), while large levels
need more, smaller tasks for load balance and for committed files
whose row groups a reader can hold. Hot tiles (many overlapping
images) remain the skew axis. The z-1 overview pass
shuffles only rendered band planes, grouped 4->1 per level,
mirroring the reference's per-level barrier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.fixtures import georef
from gdal_spark.raster.checksum import gdal_checksum
from gdal_spark.raster import resample as rs
from gdal_spark.tiles import tilemath as tm

TILE = tm.TILE_SIZE
BANDS = 3


# (image, tile) pairs one Python task renders before a level gets more
# tasks than cores; bounds task time and the rows of a committed file
PAIRS_PER_TASK = 256


def _tile_groups(df: DataFrame, keys: tuple[str, ...] = ("tile_x", "tile_y"),
                 extra: tuple[str, ...] = (), pairs: int = 0) -> GroupedData:
    """Group `df` by keys + extra, hash-partitioned on `keys` into one
    partition per core, or one per PAIRS_PER_TASK of the level's
    expected `pairs` if that is more (see Scale notes)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(cores, -(-pairs // PAIRS_PER_TASK))
    return df.repartition(n, *keys).groupBy(*keys, *extra)


def covering_tiles(images: DataFrame, z: int) -> DataFrame:
    """Tiles whose extent the image footprint covers, via the
    GetTileIndices rule on the EPSG:3857 bbox columns."""
    min_tx, min_ty, max_tx, max_ty = tm.tile_range_cols(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), z
    )
    return (
        images.withColumn("_tx", F.explode(F.sequence(min_tx, max_tx)))
        .withColumn("tile_y", F.explode(F.sequence(min_ty, max_ty)))
        .withColumnRenamed("_tx", "tile_x")
    )


def render_tiles(
    images: DataFrame,
    z: int,
    resampling: str = "near",
    with_data: bool = False,
    src_res: float | None = None,
    decode_payload: bool = False,
    sort_field: str = "i",
    ascending: bool = True,
    pairs: int = 0,
) -> DataFrame:
    """Warp-composite images into 256x256x3 tile rasters at zoom z.

    `pairs`, if known, is the count of covering (image, tile) pairs;
    it sizes the tile shuffle (at least one partition per core).

    sort_field/ascending control composite order (last writer wins),
    the GTI mosaic SORT_FIELD / SORT_FIELD_ASC option
    (frmts/gti/gdaltileindexdataset.cpp:87-110): sources paint in
    ascending sort order, so the LAST one in that order shows on top.

    `images` needs columns (i, xmin, ymax, w, h). Source pixels:

    - decode_payload=True — the REAL pipeline: the `bytes` column is
      decoded per image via raster/codecs.decode_image (fmt-dispatch
      PNG/JPEG/TIFF), i.e. decode -> warp -> composite end-to-end
      (gdal_translate feeding gdalwarp). Requires (bytes, fmt)
      columns; JPEG sources decode lossily, so pixel-exact oracles
      must exclude them (fixture rule: i % 3 == 1).
    - decode_payload=False — synthetic fast path for formula oracles:
      pixels regenerate from value(x,y,c) = (x+y+i+phase_c) % 256
      (georef.np_image_pixels; bit-identical to the decoded lossless
      payloads by construction).

    Returns one row per (tile, band) with the GDAL 16-bit checksum
    and the count of source-covered pixels.
    """
    res0 = src_res if src_res is not None else georef.RES0
    res_z = tm.resolution(z)
    fields = [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ]
    if with_data:
        fields.append(T.StructField("data", T.BinaryType()))
    schema = T.StructType(fields)

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        buf = np.zeros((TILE, TILE, BANDS), dtype=np.uint8)
        covered = np.zeros((TILE, TILE), dtype=bool)
        for _, row in pdf.sort_values(sort_field, ascending=ascending).iterrows():
            i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
            if decode_payload:
                from gdal_spark.raster.codecs import decode_image

                src = decode_image(bytes(row["bytes"]), str(row["fmt"]))
            else:
                src = georef.np_image_pixels(i, w, h)
            dfx, dfy = rs.inverse_grid(
                tx, ty, z, float(row["xmin"]), float(row["ymax"]),
                res0, tm.ORIGIN, res_z,
            )
            if resampling == "bilinear":
                vals, mask = rs.sample_bilinear(src, dfx, dfy)
                vals = rs.round_to_byte(vals)
            elif resampling == "cubic":
                vals, mask = rs.sample_cubic(src, dfx, dfy)
                vals = rs.round_to_byte(vals)
            elif resampling == "cubicspline":
                vals, mask = rs.sample_cubicspline(src, dfx, dfy)
                vals = rs.round_to_byte(vals)
            elif resampling == "lanczos":
                vals, mask = rs.sample_lanczos(src, dfx, dfy)
                vals = rs.round_to_byte(vals)
            elif resampling == "average":
                px = np.arange(TILE, dtype=np.float64)
                wx0 = -tm.ORIGIN + (tx * TILE + px) * res_z
                wy_top = tm.ORIGIN - (ty * TILE + px) * res_z
                x0 = np.broadcast_to(((wx0 - float(row["xmin"])) / res0)[None, :], (TILE, TILE))
                x1 = x0 + res_z / res0
                y0 = np.broadcast_to(((float(row["ymax"]) - wy_top) / res0)[:, None], (TILE, TILE))
                y1 = y0 + res_z / res0
                vals, mask = rs.sample_average(src, x0, x1, y0, y1)
                vals = rs.round_to_byte(vals)
            else:
                vals, mask = rs.sample_nearest(src, dfx, dfy)
            buf[mask] = vals[mask]
            covered |= mask
        n_px = int(covered.sum())
        recs = []
        for b in range(BANDS):
            rec = {
                "tile_x": tx, "tile_y": ty, "band": b,
                "checksum": gdal_checksum(buf[:, :, b]), "n_px": n_px,
            }
            if with_data:
                rec["data"] = buf[:, :, b].tobytes()
            recs.append(rec)
        return pd.DataFrame(recs)

    cols = ["tile_x", "tile_y", "i", "w", "h", "xmin", "ymax"]
    if decode_payload:
        cols += ["bytes", "fmt"]
    if sort_field not in cols:
        cols.append(sort_field)
    tiles = covering_tiles(images, z).select(*cols)
    return _tile_groups(tiles, pairs=pairs).applyInPandas(composite, schema)


def render_tiles_stats(
    images: DataFrame,
    z: int,
    stats: tuple[str, ...] = rs.FOOTPRINT_STATS,
    src_res: float | None = None,
) -> DataFrame:
    """The GWKAverageOrMode stat-resampler family (min/max/sum/rms/
    med/q1/q3, gdalwarpkernel.cpp GWKAverageOrModeThread) in ONE
    footprint-gather pass per tile: all stats share the tap window,
    composite is last-writer (max image id) per pixel like the other
    render paths. -> (tile_x, tile_y, band, stat, checksum, n_px)."""
    res0 = src_res if src_res is not None else georef.RES0
    res_z = tm.resolution(z)
    schema = T.StructType(
        [
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("tile_y", T.IntegerType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("stat", T.StringType()),
            T.StructField("checksum", T.IntegerType()),
            T.StructField("n_px", T.LongType()),
        ]
    )

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        bufs = {
            s: np.zeros((TILE, TILE, BANDS), dtype=np.float64) for s in stats
        }
        covered = np.zeros((TILE, TILE), dtype=bool)
        px = np.arange(TILE, dtype=np.float64)
        wx0 = -tm.ORIGIN + (tx * TILE + px) * res_z
        wy_top = tm.ORIGIN - (ty * TILE + px) * res_z
        for _, row in pdf.sort_values("i").iterrows():
            i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
            src = georef.np_image_pixels(i, w, h)
            x0 = np.broadcast_to(((wx0 - float(row["xmin"])) / res0)[None, :], (TILE, TILE))
            x1 = x0 + res_z / res0
            y0 = np.broadcast_to(((float(row["ymax"]) - wy_top) / res0)[:, None], (TILE, TILE))
            y1 = y0 + res_z / res0
            mask = None
            for b in range(BANDS):
                vals, mask = rs.sample_footprint_stats(
                    src[:, :, b], x0, x1, y0, y1, stats
                )
                for s in stats:
                    bufs[s][:, :, b][mask] = vals[s][mask]
            covered |= mask
        n_px = int(covered.sum())
        recs = []
        for s in stats:
            for b in range(BANDS):
                plane = bufs[s][:, :, b]
                if s == "sum":
                    byte = np.clip(np.floor(plane + 0.5), 0, 255).astype(np.uint8)
                elif s == "rms":
                    byte = rs.round_to_byte(plane)
                else:
                    byte = np.clip(plane, 0, 255).astype(np.uint8)
                recs.append(
                    {
                        "tile_x": tx, "tile_y": ty, "band": b, "stat": s,
                        "checksum": gdal_checksum(byte), "n_px": n_px,
                    }
                )
        return pd.DataFrame(recs)

    tiles = covering_tiles(images, z).select(
        "tile_x", "tile_y", "i", "w", "h", "xmin", "ymax"
    )
    return _tile_groups(tiles).applyInPandas(composite, schema)


UTM_RES = 30.0  # m/px of the synthetic UTM sources (Landsat-ish)


def utm_image_geo(ids_df: DataFrame, id_col: str = "i") -> DataFrame:
    """Synthetic UTM-georeferenced sources (zone-31 northern band):
    deterministic top-left (e0, n0) from the row id — SQL-expressible
    so the full reprojection warp has a value-level oracle."""
    i = F.col(id_col).cast("long")
    df = georef.with_image_geo(ids_df, id_col).select(id_col, "w", "h")
    return (
        df.withColumn("e0", F.lit(300000.0) + (i % 997).cast("double") * F.lit(400.0))
        .withColumn("n0", F.lit(3800000.0) + ((i * 7) % 1009).cast("double") * F.lit(400.0))
    )


def render_tiles_utm(
    images: DataFrame, z: int, zone: int = 31, with_data: bool = False
) -> DataFrame:
    """Full reprojection warp: UTM sources -> WebMercator tiles.

    Mirrors the gdalwarp lifecycle (SURVEY.md §3.2): (1) suggested
    output extent by 21-point boundary sampling through the inverse
    transformer chain (GDALSuggestedWarpOutput2,
    alg/gdaltransformer.cpp:3031); (2) covering-tile explode; (3) per
    tile, dst pixel centers run dstPixel->merc->lonlat->UTM->srcPixel
    (the GenImgProj chain, :2187) with nearest sampling.
    """
    from gdal_spark.geo import crs

    res_z = tm.resolution(z)
    bbox_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("e0", T.DoubleType()),
            T.StructField("n0", T.DoubleType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )

    def suggest(batches):
        ts = np.linspace(0.0, 1.0, 21)
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
                e0, n0 = float(row["e0"]), float(row["n0"])
                ew, nh = w * UTM_RES, h * UTM_RES
                es, ns = [], []
                for (ea, na), (eb, nb) in (
                    ((e0, n0), (e0 + ew, n0)),
                    ((e0 + ew, n0), (e0 + ew, n0 - nh)),
                    ((e0 + ew, n0 - nh), (e0, n0 - nh)),
                    ((e0, n0 - nh), (e0, n0)),
                ):
                    es.append(ea + ts * (eb - ea))
                    ns.append(na + ts * (nb - na))
                lon, lat = crs.utm_inverse(np.concatenate(es), np.concatenate(ns), zone)
                mx = tm.EARTH_RADIUS * np.radians(lon)
                my = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
                recs.append(
                    {
                        "i": i, "w": w, "h": h, "e0": e0, "n0": n0,
                        "xmin": float(mx.min()), "ymin": float(my.min()),
                        "xmax": float(mx.max()), "ymax": float(my.max()),
                    }
                )
            yield pd.DataFrame(recs, columns=[f.name for f in bbox_schema])

    boxed = images.select("i", "w", "h", "e0", "n0").mapInPandas(suggest, bbox_schema)
    fields = [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ]
    if with_data:
        fields.append(T.StructField("data", T.BinaryType()))
    schema = T.StructType(fields)

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from gdal_spark.raster.checksum import gdal_checksum as cks

        tx, ty = int(key[0]), int(key[1])
        buf = np.zeros((TILE, TILE, BANDS), dtype=np.uint8)
        covered = np.zeros((TILE, TILE), dtype=bool)
        px = np.arange(TILE, dtype=np.float64)
        wx = -tm.ORIGIN + (tx * TILE + px + 0.5) * res_z
        wy = tm.ORIGIN - (ty * TILE + px + 0.5) * res_z
        lon = np.degrees(wx / tm.EARTH_RADIUS)
        lat = np.degrees(2 * np.arctan(np.exp(wy / tm.EARTH_RADIUS)) - np.pi / 2)
        LON = np.broadcast_to(lon[None, :], (TILE, TILE))
        LAT = np.broadcast_to(lat[:, None], (TILE, TILE))
        E, N = crs.utm_forward(LON, LAT, zone)
        for _, row in pdf.sort_values("i").iterrows():
            i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
            sx = np.floor((E - float(row["e0"])) / UTM_RES).astype(np.int64)
            sy = np.floor((float(row["n0"]) - N) / UTM_RES).astype(np.int64)
            mask = (sx >= 0) & (sx < w) & (sy >= 0) & (sy < h)
            base = (sx + sy + i) % 256
            for b, phase in enumerate((0, 85, 170)):
                buf[:, :, b][mask] = ((base[mask] + phase) % 256).astype(np.uint8)
            covered |= mask
        n_px = int(covered.sum())
        recs = []
        for b in range(BANDS):
            rec = {
                "tile_x": tx, "tile_y": ty, "band": b,
                "checksum": cks(buf[:, :, b]), "n_px": n_px,
            }
            if with_data:
                rec["data"] = buf[:, :, b].tobytes()
            recs.append(rec)
        return pd.DataFrame(recs)

    tiles = covering_tiles(boxed, z).select(
        "tile_x", "tile_y", "i", "w", "h", "e0", "n0"
    )
    return _tile_groups(tiles).applyInPandas(composite, schema)


# ---------------------------------------------------------------------------
# Generalized reprojection warp through the projection-zoo registry
# (gdal_spark/geo/projzoo.py): same GenImgProj lifecycle as
# render_tiles_utm but with the source CRS dispatched by EPSG code —
# the engine's counterpart of gdalwarp accepting any -s_srs the CRS
# registry supports (alg/gdaltransformer.cpp:2187 chain).
# ---------------------------------------------------------------------------

# synthetic per-CRS georeference rules (top-left anchored; the polar
# window is an annulus away from the pole so footprints stay inside
# Web Mercator's |lat| <= 85 domain)
PROJ_RENDER = {
    5070: dict(res=100.0, x0=-1800000.0, xstep=3000.0,
               y0=2800000.0, ystep=-2000.0),
    3031: dict(res=200.0, x0=1000000.0, xstep=2000.0,
               y0=-1000000.0, ystep=-2000.0),
    # Trinidad 1903 / Cassini — axis unit is CLARKE'S LINKS
    # (500 links/px ~ 100.6 m/px); sources stay inside the grid zone
    30200: dict(res=500.0, x0=350000.0, xstep=120.0,
                y0=420000.0, ystep=-100.0),
}


def proj_image_geo(ids_df: DataFrame, code: int, id_col: str = "i") -> DataFrame:
    """Synthetic sources georeferenced in the given projected CRS:
    deterministic top-left (e0, n0) from the row id — SQL-expressible
    so the full warp has a value-level oracle."""
    p = PROJ_RENDER[code]
    i = F.col(id_col).cast("long")
    df = georef.with_image_geo(ids_df, id_col).select(id_col, "w", "h")
    return (
        df.withColumn(
            "e0", F.lit(p["x0"]) + (i % 997).cast("double") * F.lit(p["xstep"])
        ).withColumn(
            "n0", F.lit(p["y0"]) + ((i * 7) % 1009).cast("double") * F.lit(p["ystep"])
        )
    )


def render_tiles_proj(
    images: DataFrame, z: int, code: int, with_data: bool = False
) -> DataFrame:
    """Full reprojection warp: registry-CRS sources -> WebMercator
    tiles.  Mirrors render_tiles_utm's three steps (21-point suggested
    output, covering-tile explode, per-tile dst->src pixel chain) with
    projzoo.forward/inverse as the transformer pair."""
    res = PROJ_RENDER[code]["res"]
    res_z = tm.resolution(z)
    bbox_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("e0", T.DoubleType()),
            T.StructField("n0", T.DoubleType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )

    def suggest(batches):
        from gdal_spark.geo import projzoo as pz

        ts = np.linspace(0.0, 1.0, 21)
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
                e0, n0 = float(row["e0"]), float(row["n0"])
                ew, nh = w * res, h * res
                es, ns = [], []
                for (ea, na), (eb, nb) in (
                    ((e0, n0), (e0 + ew, n0)),
                    ((e0 + ew, n0), (e0 + ew, n0 - nh)),
                    ((e0 + ew, n0 - nh), (e0, n0 - nh)),
                    ((e0, n0 - nh), (e0, n0)),
                ):
                    es.append(ea + ts * (eb - ea))
                    ns.append(na + ts * (nb - na))
                lon, lat = pz.inverse(code, np.concatenate(es), np.concatenate(ns))
                mx = tm.EARTH_RADIUS * np.radians(lon)
                my = tm.EARTH_RADIUS * np.log(
                    np.tan(np.pi / 4 + np.radians(lat) / 2)
                )
                recs.append(
                    {
                        "i": i, "w": w, "h": h, "e0": e0, "n0": n0,
                        "xmin": float(mx.min()), "ymin": float(my.min()),
                        "xmax": float(mx.max()), "ymax": float(my.max()),
                    }
                )
            yield pd.DataFrame(recs, columns=[f.name for f in bbox_schema])

    boxed = images.select("i", "w", "h", "e0", "n0").mapInPandas(
        suggest, bbox_schema
    )
    fields = [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ]
    if with_data:
        fields.append(T.StructField("data", T.BinaryType()))
    schema = T.StructType(fields)

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from gdal_spark.geo import projzoo as pz
        from gdal_spark.raster.checksum import gdal_checksum as cks

        tx, ty = int(key[0]), int(key[1])
        buf = np.zeros((TILE, TILE, BANDS), dtype=np.uint8)
        covered = np.zeros((TILE, TILE), dtype=bool)
        px = np.arange(TILE, dtype=np.float64)
        wx = -tm.ORIGIN + (tx * TILE + px + 0.5) * res_z
        wy = tm.ORIGIN - (ty * TILE + px + 0.5) * res_z
        lon = np.degrees(wx / tm.EARTH_RADIUS)
        lat = np.degrees(
            2 * np.arctan(np.exp(wy / tm.EARTH_RADIUS)) - np.pi / 2
        )
        LON = np.broadcast_to(lon[None, :], (TILE, TILE))
        LAT = np.broadcast_to(lat[:, None], (TILE, TILE))
        E, N = pz.forward(code, LON, LAT)
        for _, row in pdf.sort_values("i").iterrows():
            i, w, h = int(row["i"]), int(row["w"]), int(row["h"])
            sx = np.floor((E - float(row["e0"])) / res).astype(np.int64)
            sy = np.floor((float(row["n0"]) - N) / res).astype(np.int64)
            mask = (sx >= 0) & (sx < w) & (sy >= 0) & (sy < h)
            base = (sx + sy + i) % 256
            for b, phase in enumerate((0, 85, 170)):
                buf[:, :, b][mask] = ((base[mask] + phase) % 256).astype(np.uint8)
            covered |= mask
        n_px = int(covered.sum())
        recs = []
        for b in range(BANDS):
            rec = {
                "tile_x": tx, "tile_y": ty, "band": b,
                "checksum": cks(buf[:, :, b]), "n_px": n_px,
            }
            if with_data:
                rec["data"] = buf[:, :, b].tobytes()
            recs.append(rec)
        return pd.DataFrame(recs)

    tiles = covering_tiles(boxed, z).select(
        "tile_x", "tile_y", "i", "w", "h", "e0", "n0"
    )
    return _tile_groups(tiles).applyInPandas(composite, schema)


def encode_tiles(
    tiles: DataFrame,
    z: int,
    convention: str = "xyz",
    fmt: str = "png",
    quality: int = 90,
) -> DataFrame:
    """Tile sink (apps/gdalalg_raster_tile.cpp:358 GenerateTile):
    assemble the 3 band planes of each tile and encode a PNG, JPEG,
    or WEBP (VP8L lossless, raster/webp.py) payload — the reference's
    --output-format choices; `path` follows the
    {z}/{x}/{fileY}.{ext} layout with the XYZ/TMS y-convention
    (:348-352). Input: render_tiles(..., with_data=True) rows."""
    if fmt not in ("png", "jpeg", "webp", "gtiff"):
        raise ValueError(f"unsupported tile format: {fmt}")
    ext = {"png": "png", "jpeg": "jpg", "webp": "webp", "gtiff": "tif"}[fmt]
    out_schema = T.StructType(
        [
            T.StructField("tile_z", T.IntegerType()),
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("tile_y", T.IntegerType()),
            T.StructField("path", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from gdal_spark.raster.codecs import encode_image

        tx, ty = int(key[0]), int(key[1])
        arr = np.zeros((TILE, TILE, BANDS), dtype=np.uint8)
        for _, row in pdf.iterrows():
            arr[:, :, int(row["band"])] = np.frombuffer(
                row["data"], dtype=np.uint8
            ).reshape(TILE, TILE)
        file_y = ty if convention == "xyz" else (1 << z) - 1 - ty
        if fmt == "gtiff":
            # georeferenced tile: EPSG:3857 geotransform from the
            # tile's mercator bounds (gdalalg_raster_tile.cpp writes
            # whatever --output-format the raster driver supports)
            from gdal_spark.raster.tiff import encode_tiff
            from gdal_spark.tiles import tilemath as _tm

            res = _tm.resolution(z)
            span = res * TILE
            gt = (-_tm.ORIGIN + tx * span, res, 0.0,
                  _tm.ORIGIN - ty * span, 0.0, -res)
            payload = encode_tiff(arr, geo=(gt, 3857))
        else:
            payload = encode_image(arr, fmt, quality=quality)
        return pd.DataFrame(
            [
                {
                    "tile_z": z, "tile_x": tx, "tile_y": ty,
                    "path": f"{z}/{tx}/{file_y}.{ext}",
                    "payload": payload,
                }
            ]
        )

    return _tile_groups(tiles).applyInPandas(encode, out_schema)


def write_tile_tree(tiles: DataFrame, out_dir: str,
                    resume: bool = False) -> int:
    """Distributed `{z}/{x}/{fileY}.{ext}` directory sink — the
    gdal2tiles / `gdal raster tile` on-disk layout
    (apps/gdalalg_raster_tile.cpp:348-358).  Input: encode_tiles rows
    (path, payload).  Every executor writes its own partition's files
    (no driver funnel); requires the shared output filesystem the
    other distributed sinks document.  `resume=True` skips tiles
    whose final file already exists — the tmp+replace write is
    atomic, so a killed run leaves only complete files and a restart
    pays nothing for finished work (the engine's checkpoint-resume
    contract, same as operators/scale.py's semi-anti resume join).
    Returns the count WRITTEN (resumed skips excluded)."""
    import os

    def write_part(rows):
        n = 0
        for row in rows:
            full = os.path.join(out_dir, row["path"])
            if resume and os.path.exists(full):
                continue
            os.makedirs(os.path.dirname(full), exist_ok=True)
            tmp = full + ".tmp"
            with open(tmp, "wb") as f:
                f.write(bytes(row["payload"]))
            os.replace(tmp, full)
            n += 1
        yield n

    counts = tiles.select("path", "payload").rdd.mapPartitions(
        lambda it: write_part(it)
    )
    return int(counts.sum())


def read_tile_tree(spark: SparkSession, root: str,
                   z: int | None = None) -> DataFrame:
    """Distributed scan of a `{z}/{x}/{fileY}.{ext}` pyramid back
    into (tile_z, tile_x, file_y, fmt, payload) rows — the
    consumption path for trees written by write_tile_tree or the
    reference's gdal2tiles.  File-level parallelism via binaryFile;
    the y convention (XYZ vs TMS flip) is the caller's contract,
    exactly as in the reference."""
    import os
    import re

    import pandas as pd

    pattern = os.path.join(root, str(z) if z is not None else "*",
                           "*", "*.*")
    schema = T.StructType(
        [
            T.StructField("tile_z", T.IntegerType()),
            T.StructField("tile_x", T.IntegerType()),
            T.StructField("file_y", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    rx = re.compile(r"(\d+)/(\d+)/(\d+)\.(\w+)$")

    def parse(batches):
        for pdf in batches:
            recs = []
            for path, content in zip(pdf["path"], pdf["content"]):
                m = rx.search(str(path))
                if m is None:
                    continue
                zz, xx, yy, ext = m.groups()
                recs.append(
                    {
                        "tile_z": int(zz), "tile_x": int(xx),
                        "file_y": int(yy),
                        "fmt": {"jpg": "jpeg", "tif": "tiff"}.get(ext, ext),
                        "payload": bytes(content),
                    }
                )
            yield pd.DataFrame(recs, columns=[f.name for f in schema.fields])

    raw = spark.read.format("binaryFile").load(pattern).select(
        "path", "content"
    )
    return raw.mapInPandas(parse, schema)


def encode_png_tiles(tiles: DataFrame, z: int, convention: str = "xyz") -> DataFrame:
    """Back-compat PNG-only sink; `png` column alias of encode_tiles."""
    return encode_tiles(tiles, z, convention, "png").withColumnRenamed(
        "payload", "png"
    )


def build_pyramid(
    images: DataFrame,
    z_max: int,
    z_min: int,
    out_dir: str | None = None,
    resampling: str = "near",
) -> dict[int, DataFrame]:
    """Full overview pyramid: render the base level, then derive each
    coarser level from its children (the reference's per-level loop,
    apps/gdalalg_raster_tile.cpp:3080; gdal2tiles generate_overview_
    tiles). Each level is a stage barrier, exactly as in the
    reference. If out_dir is given, every level commits through the
    resumable snapshot writer (restart skips finished tiles — the
    tile-exists rule :377).

    One Column-math job (no Python) first counts the base level's
    covering (image, tile) pairs; that count sizes every level's tile
    shuffle, since no coarser level has more tiles."""
    spark = images.sparkSession
    levels: dict[int, DataFrame] = {}
    pairs = covering_tiles(images, z_max).count()
    current = render_tiles(images, z_max, resampling=resampling, with_data=True,
                           pairs=pairs)
    current = current.where(F.col("n_px") > 0).drop("n_px")
    for z in range(z_max, z_min - 1, -1):
        if out_dir is not None:
            from gdal_spark.operators.scale import ResumableWriter

            writer = ResumableWriter(
                spark, f"{out_dir}/z={z}", keys=["tile_x", "tile_y", "band"]
            )
            writer.run(current)
            current = spark.read.parquet(f"{out_dir}/z={z}").select(
                "tile_x", "tile_y", "band", "checksum", "data"
            )
        levels[z] = current
        if z > z_min:
            current = overview_tiles(current, with_data=True, pairs=pairs)
    return levels


def overview_tiles(tiles: DataFrame, with_data: bool = False,
                   pairs: int = 0) -> DataFrame:
    """One overview level: z-1 tiles from their (up to) 4 children by
    2x2 round-half-up average (overview.cpp:1667 semantics; missing
    children contribute zeros, mirroring the reference's
    MosaicDataset over already-written tiles,
    apps/gdalalg_raster_tile.cpp:930-1023).

    Input needs (tile_x, tile_y, band, data). Iterating this operator
    z_max -> z_min is the reference's per-level loop (:3080). `pairs`
    sizes the shuffle as in render_tiles.
    """
    fields = [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("checksum", T.IntegerType()),
    ]
    if with_data:
        fields.append(T.StructField("data", T.BinaryType()))
    schema = T.StructType(fields)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty, band = int(key[0]), int(key[1]), int(key[2])
        mosaic = np.zeros((2 * TILE, 2 * TILE), dtype=np.uint8)
        for _, row in pdf.iterrows():
            cx, cy = int(row["tile_x"]), int(row["tile_y"])
            arr = np.frombuffer(row["data"], dtype=np.uint8).reshape(TILE, TILE)
            mosaic[
                (cy - 2 * pty) * TILE : (cy - 2 * pty + 1) * TILE,
                (cx - 2 * ptx) * TILE : (cx - 2 * ptx + 1) * TILE,
            ] = arr
        parent = rs.average_2x2(mosaic)
        rec = {
            "tile_x": ptx, "tile_y": pty, "band": band,
            "checksum": gdal_checksum(parent),
        }
        if with_data:
            rec["data"] = parent.tobytes()
        return pd.DataFrame([rec])

    children = tiles.withColumn(
        "ptx", (F.col("tile_x") / 2).cast("int")
    ).withColumn("pty", (F.col("tile_y") / 2).cast("int"))
    return _tile_groups(children, ("ptx", "pty"), ("band",), pairs).applyInPandas(
        build, schema
    )
