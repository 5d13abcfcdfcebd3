"""Distributed tile rendering (gdalwarp + gdal raster tile semantics)
and overview-pyramid construction.

Pipeline shape (SURVEY.md §2.10, §3.3; apps/gdalalg_raster_tile.cpp):

  images -> covering tiles (Column math)        -- no UDF, no shuffle
         -> repartition(n, tile_x, tile_y)      -- the ONE shuffle
         -> sortWithinPartitions(tile, i)       -- sources together, paint order
         -> mapInPandas warp+composite          -- one call per partition
         -> tiles table (checksum / png bytes)
  z-1 pass: the same stage keyed by parent tile, 4 children -> 2x2 average

One warp kernel, as the reference has one (GDALWarpKernel fed by the
GenImgProj transformer chain, SURVEY.md §3.2): `render_tiles` takes a
tile's sources in paint order, gets their pixels (decoded payload or
the synthetic formula), maps every destination pixel centre to
continuous source pixel coords, samples, paints last-writer-wins and
emits per-band checksums. Only that grid step depends on the source
CRS (`_source_grid`):

- EPSG:3857 sources (xmin, ymax at georef.RES0 m/px): rs.inverse_grid.
- projected sources (top-left e0, n0 in a PROJ_RENDER CRS): tile pixel
  centres run 3857 -> lon/lat -> projzoo.forward once per tile, then
  (E - e0)/res, (n0 - N)/res per source; covering tiles come from the
  21-point suggested-output bbox (`_suggest_bbox`,
  GDALSuggestedWarpOutput2, alg/gdaltransformer.cpp:3031).

`render_tiles_stats` shares the composite loop (`_paint_sources`),
footprint grid and band records; it paints its own stat planes.

Warp semantics per gdalwarpkernel.cpp (see raster/resample.py).
Composite order: ascending image id, last writer wins (mirrors
gdalbuildvrt default source order, apps/gdalbuildvrt_lib.cpp).

Scale notes: per-tile work is bounded (<= 256*256 px x images-on-
tile), but it is Python work: decode, warp and checksum cost
milliseconds per row while the row itself is a few KiB of payload or
one 64 KiB band plane. AQE sizes coalesced shuffle partitions by
bytes (max(1 MiB, shuffle bytes / defaultParallelism)), so a level
whose shuffle is under 1 MiB would become ONE task on one core. Every
tile stage therefore runs through `_tile_stage`, an explicit hash
repartition on the tile keys (AQE never coalesces a repartition-by-
number) into one partition per core, raised to one per PAIRS_PER_TASK
covering pairs when the caller knows the level's size (build_pyramid
counts it): small levels run best as a single wave (two and three
tasks per core measured 14% and 30% slower on a 14-image pyramid, and
no faster on 300 images), while large levels need more, smaller tasks
for load balance and for committed files whose row groups a reader can
hold. Hot tiles (many overlapping images) remain the skew axis.

Each sorted partition goes through ONE mapInPandas call, which cuts
its Arrow batches back into whole groups (`_whole_groups`). A grouped
applyInPandas pays the Python boundary once per group instead: on 4
vCPUs the benchmark pyramid's two overview levels (72 + 51 groups, a
few ms of numpy each) took 0.89 s that way against 0.63 s per
partition (traced, seed 0). `render_tiles(decode_payload=True)` also
decodes each payload once per Arrow batch, not per covering tile (42
-> 25 decodes per benchmark rep). A per-image fragment stage would
drop the remaining repeats but add a second Python stage, whose fixed
per-task cost is about what those repeats cost at this size.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.fixtures import georef
from gdal_spark.raster.checksum import gdal_checksum
from gdal_spark.raster import resample as rs
from gdal_spark.tiles import tilemath as tm

TILE = tm.TILE_SIZE
BANDS = 3
WEBMERC = 3857

# samplers over continuous source coords; "average" samples each dst
# pixel's source footprint instead (_footprint)
_SAMPLERS = {
    "near": rs.sample_nearest,
    "bilinear": rs.sample_bilinear,
    "cubic": rs.sample_cubic,
    "cubicspline": rs.sample_cubicspline,
    "lanczos": rs.sample_lanczos,
}

# synthetic per-CRS georeference rules for projected sources (top-left
# anchored; the polar window is an annulus away from the pole so
# footprints stay inside Web Mercator's |lat| <= 85 domain)
PROJ_RENDER = {
    # WGS 84 / UTM zone 31N at 30 m/px (Landsat-ish)
    32631: dict(res=30.0, x0=300000.0, xstep=400.0,
                y0=3800000.0, ystep=400.0),
    5070: dict(res=100.0, x0=-1800000.0, xstep=3000.0,
               y0=2800000.0, ystep=-2000.0),
    3031: dict(res=200.0, x0=1000000.0, xstep=2000.0,
               y0=-1000000.0, ystep=-2000.0),
    # Trinidad 1903 / Cassini — axis unit is CLARKE'S LINKS
    # (500 links/px ~ 100.6 m/px); sources stay inside the grid zone
    30200: dict(res=500.0, x0=350000.0, xstep=120.0,
                y0=420000.0, ystep=-100.0),
}


# (image, tile) pairs one Python task renders before a level gets more
# tasks than cores; bounds task time and the rows of a committed file
PAIRS_PER_TASK = 256


def _tile_stage(df: DataFrame, body, schema: T.StructType | str,
                keys: tuple[str, ...] = ("tile_x", "tile_y"), extra: tuple[str, ...] = (),
                order: tuple = (), pairs: int = 0, on_batch=None) -> DataFrame:
    """body(key, rows) -> DataFrame per keys + extra group of `df`, one
    Python call per partition: hash-partitioned on `keys` into one
    partition per core, or per PAIRS_PER_TASK of `pairs` if more (see
    Scale notes), and sorted by the group columns, then `order` (paint
    order). `on_batch` sees each input batch first."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(cores, -(-pairs // PAIRS_PER_TASK))
    group = (*keys, *extra)

    def tile_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for key, rows in _whole_groups(map(on_batch or (lambda b: b), batches), group):
            yield body(key, rows)

    return (df.repartition(n, *keys).sortWithinPartitions(*group, *order)
            .mapInPandas(tile_stage, schema))


def _whole_groups(batches: Iterator[pd.DataFrame], keys: tuple[str, ...]
                  ) -> Iterator[tuple[tuple, pd.DataFrame]]:
    """(key, rows) for each group of `batches` sorted by `keys`, in
    order. A batch's last group may go on in the next batch, so it is
    carried over: every group comes out once and whole."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if pdf.empty:
            continue
        k = pdf[list(keys)].to_numpy()
        *whole, last = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]).any(axis=1)]).tolist()
        for a, b in zip(whole, [*whole[1:], last]):
            yield tuple(k[a].tolist()), pdf.iloc[a:b]
        carry, carry_key = pdf.iloc[last:], tuple(k[last].tolist())
    if carry is not None:
        yield carry_key, carry


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


def _check_render(resampling: str, crs: int) -> None:
    """Reject a warp render_tiles cannot do before any plan is built."""
    if resampling not in _SAMPLERS and resampling != "average":
        raise ValueError(f"unknown resampling {resampling!r}")
    if crs != WEBMERC and crs not in PROJ_RENDER:
        raise ValueError(f"no source georeference rule for EPSG:{crs}")
    if crs != WEBMERC and resampling != "near":
        raise ValueError(
            f"resampling {resampling!r} needs EPSG:3857 sources; "
            f"EPSG:{crs} sources render with 'near' only")


def _suggest_bbox(images: DataFrame, crs: int, extra: tuple[str, ...]) -> DataFrame:
    """Sources in a projected CRS with their EPSG:3857 bbox appended:
    21 points per footprint edge through projzoo.inverse, then the
    min/max of their mercator coords (GDALSuggestedWarpOutput2)."""
    res = PROJ_RENDER[crs]["res"]
    src = images.select("i", "w", "h", "e0", "n0", *extra)
    bbox = ("xmin", "ymin", "xmax", "ymax")
    schema = T.StructType(
        src.schema.fields + [T.StructField(c, T.DoubleType()) for c in bbox]
    )

    def suggest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gdal_spark.geo import projzoo as pz

        ts = np.linspace(0.0, 1.0, 21)
        for pdf in batches:
            boxes = []
            for w, h, e0, n0 in zip(pdf["w"], pdf["h"], pdf["e0"], pdf["n0"]):
                e0, n0, ew, nh = float(e0), float(n0), int(w) * res, int(h) * res
                ring = [(e0, n0), (e0 + ew, n0), (e0 + ew, n0 - nh),
                        (e0, n0 - nh), (e0, n0)]
                es = np.concatenate([a[0] + ts * (b[0] - a[0]) for a, b in zip(ring, ring[1:])])
                ns = np.concatenate([a[1] + ts * (b[1] - a[1]) for a, b in zip(ring, ring[1:])])
                lon, lat = pz.inverse(crs, es, ns)
                mx = tm.EARTH_RADIUS * np.radians(lon)
                my = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
                boxes.append((mx.min(), my.min(), mx.max(), my.max()))
            cols = np.array(boxes, dtype=np.float64).reshape(-1, 4).T
            yield pdf.assign(**dict(zip(bbox, cols)))

    return src.mapInPandas(suggest, schema)


def _covering_sources(images: DataFrame, z: int, crs: int,
                      extra: tuple[str, ...] = ()) -> DataFrame:
    """(tile, source) rows of a tile stage: each source with the
    georeference columns its grid step reads, once per covering tile."""
    if crs == WEBMERC:
        geo, boxed = ("xmin", "ymax"), images
    else:
        geo, boxed = ("e0", "n0"), _suggest_bbox(images, crs, extra)
    return covering_tiles(boxed, z).select(
        "tile_x", "tile_y", "i", "w", "h", *geo, *extra
    )


def _formula_pixels(row: pd.Series) -> np.ndarray:
    return georef.np_image_pixels(int(row["i"]), int(row["w"]), int(row["h"]))


class _Decoded:
    """row -> its decoded `bytes` payload. `expect` counts each arriving
    batch's rows per image; an image is decoded at its first row and
    dropped after its last, so a task holds at most one batch's images."""

    def __init__(self):
        self.left: Counter = Counter()
        self.images: dict[int, np.ndarray] = {}

    def expect(self, pdf: pd.DataFrame) -> pd.DataFrame:
        self.left.update(pdf["i"].tolist())
        return pdf

    def __call__(self, row: pd.Series) -> np.ndarray:
        from gdal_spark.raster.codecs import decode_image

        i = int(row["i"])
        src = self.images.get(i)
        if src is None:
            src = self.images[i] = decode_image(bytes(row["bytes"]), str(row["fmt"]))
        self.left[i] -= 1
        if self.left[i] <= 0:
            del self.left[i], self.images[i]
        return src


def _paint_sources(pdf: pd.DataFrame, paint, pixels=_formula_pixels) -> int:
    """The composite loop: paint(row, pixels(row)) -> covered mask for
    one tile's sources, which arrive in paint order (the last painted
    wins); returns the covered pixel count."""
    covered = np.zeros((TILE, TILE), dtype=bool)
    for _, row in pdf.iterrows():
        covered |= paint(row, pixels(row))
    return int(covered.sum())


def _source_grid(crs: int, tx: int, ty: int, z: int):
    """row -> (dfx, dfy): continuous source pixel coords of every
    destination pixel centre of tile (tx, ty), for one source row —
    the dst pixel -> 3857 -> [lon/lat -> source CRS] -> src pixel
    chain (GenImgProjTransform, alg/gdaltransformer.cpp:2187)."""
    res_z = tm.resolution(z)
    if crs == WEBMERC:
        return lambda row: rs.inverse_grid(
            tx, ty, z, float(row["xmin"]), float(row["ymax"]),
            georef.RES0, tm.ORIGIN, res_z,
        )
    from gdal_spark.geo import projzoo as pz

    px = np.arange(TILE, dtype=np.float64)
    lon, lat = tm.np_inv_merc(-tm.ORIGIN + (tx * TILE + px + 0.5) * res_z,
                              tm.ORIGIN - (ty * TILE + px + 0.5) * res_z)
    E, N = pz.forward(crs, np.broadcast_to(lon[None, :], (TILE, TILE)),
                      np.broadcast_to(lat[:, None], (TILE, TILE)))
    res = PROJ_RENDER[crs]["res"]
    return lambda row: ((E - float(row["e0"])) / res, (float(row["n0"]) - N) / res)


def _footprint(tx: int, ty: int, z: int, row: pd.Series):
    """Source-space footprint [x0, x1) x [y0, y1) of every destination
    pixel of tile (tx, ty) over an EPSG:3857 source
    (GWKAverageOrMode's tap window)."""
    res_z = tm.resolution(z)
    px = np.arange(TILE, dtype=np.float64)
    wx0 = -tm.ORIGIN + (tx * TILE + px) * res_z
    wy_top = tm.ORIGIN - (ty * TILE + px) * res_z
    x0 = np.broadcast_to(((wx0 - float(row["xmin"])) / georef.RES0)[None, :], (TILE, TILE))
    y0 = np.broadcast_to(((float(row["ymax"]) - wy_top) / georef.RES0)[:, None], (TILE, TILE))
    step = res_z / georef.RES0
    return x0, x0 + step, y0, y0 + step


def _band_schema(*extra: T.StructField, with_data: bool = False) -> T.StructType:
    fields = [
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        *extra,
        T.StructField("checksum", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
    ]
    if with_data:
        fields.append(T.StructField("data", T.BinaryType()))
    return T.StructType(fields)


# a pyramid level's rows, as overview_tiles(with_data=True) emits them
# and build_pyramid reads a committed level back
_LEVEL = "tile_x int, tile_y int, band int, checksum int, data binary"


def _band_records(tx: int, ty: int, planes: np.ndarray, n_px: int,
                  with_data: bool = False, **extra) -> list[dict]:
    """One record per band of `planes` (TILE, TILE, BANDS) uint8: the
    GDAL checksum, the covered pixel count and, if asked, the bytes."""
    recs = []
    for b in range(BANDS):
        rec = {"tile_x": tx, "tile_y": ty, "band": b, **extra,
               "checksum": gdal_checksum(planes[:, :, b]), "n_px": n_px}
        if with_data:
            rec["data"] = planes[:, :, b].tobytes()
        recs.append(rec)
    return recs


def render_tiles(
    images: DataFrame,
    z: int,
    resampling: str = "near",
    with_data: bool = False,
    decode_payload: bool = False,
    ascending: bool = True,
    pairs: int = 0,
    crs: int = WEBMERC,
) -> DataFrame:
    """Warp-composite images into 256x256x3 tile rasters at zoom z.

    `crs` is the sources' CRS. EPSG:3857 sources need columns
    (i, w, h, xmin, ymin, xmax, ymax); sources in a PROJ_RENDER CRS
    need (i, w, h, e0, n0) (see proj_image_geo) and render with
    'near' only. `resampling` is one of near, bilinear, cubic,
    cubicspline, lanczos, average; anything else raises ValueError.

    `pairs`, if known, is the count of covering (image, tile) pairs;
    it sizes the tile shuffle (at least one partition per core).

    `ascending` sets the composite order (last writer wins), the GTI
    mosaic SORT_FIELD_ASC option (frmts/gti/gdaltileindexdataset.cpp:
    87-110): sources paint in image-id order, so the LAST one in that
    order shows on top.

    Source pixels:

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
    _check_render(resampling, crs)
    schema = _band_schema(with_data=with_data)
    sample = _SAMPLERS.get(resampling)

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        grid = _source_grid(crs, tx, ty, z)
        buf = np.zeros((TILE, TILE, BANDS), dtype=np.uint8)

        def paint(row: pd.Series, src: np.ndarray) -> np.ndarray:
            if resampling == "average":
                vals, mask = rs.sample_average(src, *_footprint(tx, ty, z, row))
            else:
                vals, mask = sample(src, *grid(row))
            if resampling != "near":
                vals = rs.round_to_byte(vals)
            buf[mask] = vals[mask]
            return mask

        n_px = _paint_sources(pdf, paint, pixels)
        recs = _band_records(tx, ty, buf, n_px, with_data)
        return pd.DataFrame(recs, columns=schema.fieldNames())

    pixels = _Decoded() if decode_payload else _formula_pixels
    extra = ("bytes", "fmt") if decode_payload else ()
    tiles = _covering_sources(images, z, crs, extra)
    return _tile_stage(tiles, composite, schema, pairs=pairs,
                       order=(F.col("i").asc() if ascending else F.col("i").desc(),),
                       on_batch=pixels.expect if decode_payload else None)


def render_tiles_stats(
    images: DataFrame,
    z: int,
    stats: tuple[str, ...] = rs.FOOTPRINT_STATS,
) -> DataFrame:
    """The GWKAverageOrMode stat-resampler family (min/max/sum/rms/
    med/q1/q3, gdalwarpkernel.cpp GWKAverageOrModeThread) in ONE
    footprint-gather pass per tile over EPSG:3857 synthetic sources:
    all stats share the tap window, composite is last-writer (max
    image id) per pixel like render_tiles.
    -> (tile_x, tile_y, band, stat, checksum, n_px)."""
    schema = _band_schema(T.StructField("stat", T.StringType()))

    def composite(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        bufs = {s: np.zeros((TILE, TILE, BANDS), dtype=np.float64) for s in stats}

        def paint(row: pd.Series, src: np.ndarray) -> np.ndarray:
            x0, x1, y0, y1 = _footprint(tx, ty, z, row)
            for b in range(BANDS):
                vals, mask = rs.sample_footprint_stats(src[:, :, b], x0, x1, y0, y1, stats)
                for s in stats:
                    bufs[s][:, :, b][mask] = vals[s][mask]
            return mask

        n_px = _paint_sources(pdf, paint)
        recs = []
        for s in stats:
            # sum and rms round half-up to bytes; the others truncate
            planes = (rs.round_to_byte(bufs[s]) if s in ("sum", "rms")
                      else np.clip(bufs[s], 0, 255).astype(np.uint8))
            recs += _band_records(tx, ty, planes, n_px, stat=s)
        return pd.DataFrame(recs, columns=schema.fieldNames())

    return _tile_stage(_covering_sources(images, z, WEBMERC), composite, schema,
                       order=("i",))


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
    if convention not in ("xyz", "tms"):
        raise ValueError(f"unknown tile y convention: {convention}")
    ext = {"png": "png", "jpeg": "jpg", "webp": "webp", "gtiff": "tif"}[fmt]
    out_schema = "tile_z int, tile_x int, tile_y int, path string, payload binary"

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

            res = tm.resolution(z)
            span = res * TILE
            gt = (-tm.ORIGIN + tx * span, res, 0.0,
                  tm.ORIGIN - ty * span, 0.0, -res)
            payload = encode_tiff(arr, geo=(gt, 3857))
        else:
            payload = encode_image(arr, fmt, quality=quality)
        return pd.DataFrame([{"tile_z": z, "tile_x": tx, "tile_y": ty,
                              "path": f"{z}/{tx}/{file_y}.{ext}", "payload": payload}])

    return _tile_stage(tiles, encode, out_schema)


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
    _check_render(resampling, WEBMERC)
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
            current = spark.read.schema(_LEVEL).parquet(f"{out_dir}/z={z}")
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
    schema = _LEVEL if with_data else _LEVEL.removesuffix(", data binary")

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
    return _tile_stage(children, build, schema, ("ptx", "pty"), ("band",), pairs=pairs)
