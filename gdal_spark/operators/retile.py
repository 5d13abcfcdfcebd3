"""gdal_retile — cut rasters into a fixed-pixel-size tile grid, with
optional overlap and pyramid levels.

Re-derives osgeo_utils/gdal_retile.py semantics Spark-first:

- grid rule (`tile_info.__init__`, gdal_retile.py:87-103):
  ``count = 1 + ceil((size - tile) / (tile - overlap))`` when the
  source exceeds one tile; offsets step by ``tile - overlap``; the
  last row/column tiles are CLIPPED to the source extent, never
  padded (tileImage, :423-426);
- tile naming is 1-based ``<base>_<row>_<col>`` (getTileName);
- pyramid levels halve resolution per level with nearest-neighbour
  ReprojectImage by default (createPyramidTile :533-534 scales the
  transform by 2; :597 `gdal.ReprojectImage(..., g.ResamplingMethod)`
  with the `near` default, :1215).  GDAL's near kernel samples
  ``src = floor((dst + 0.5) * 2) = 2*dst + 1``; a level mosaic is
  ``int(size/2 + 0.5)`` wide (mosaic_info.getDataSet :214), so on
  odd sizes the last destination pixel maps past the source edge and
  stays at the dataset's initialized value 0 (the reference Create()s
  the temp dataset unfilled).

Scale shape: the tile grid is pure Column math (sequence/explode) —
one narrow explode per image, no shuffle; pixel work happens only in
the Arrow-batched kernel (`retile_image`), which each task applies to
its own images, and emits per-tile aggregates (never pixel rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["tile_counts", "tile_grid", "level_size", "level_pixels",
           "retile_image", "retile_grid_df"]


def _check_overlap(tile: int, overlap: int) -> None:
    if not 0 <= overlap < tile:
        raise ValueError(
            f"retile: overlap must be in [0, tile); got overlap={overlap}, "
            f"tile={tile}"
        )


def tile_counts(size: int, tile: int, overlap: int = 0) -> int:
    """gdal_retile.py:92-103 verbatim rule."""
    _check_overlap(tile, overlap)
    if size <= tile:
        return 1
    step = tile - overlap
    return 1 + (size - tile + step - 1) // step


def tile_grid(w: int, h: int, tw: int, th: int, overlap: int = 0):
    """Yield (row, col, ox, oy, width, height), 1-based row/col."""
    for yi in range(1, tile_counts(h, th, overlap) + 1):
        for xi in range(1, tile_counts(w, tw, overlap) + 1):
            ox = (xi - 1) * (tw - overlap)
            oy = (yi - 1) * (th - overlap)
            yield (yi, xi, ox, oy, min(tw, w - ox), min(th, h - oy))


def level_size(size: int, level: int) -> int:
    """Pyramid mosaic size: int(size/2 + 0.5) per halving step."""
    for _ in range(level):
        size = int(size / 2.0 + 0.5)
    return size


def level_pixels(arr: np.ndarray, level: int) -> np.ndarray:
    """Nearest-neighbour pyramid decimation with GDAL warp semantics:
    src = 2*dst + 1 per step; unmapped edge pixels (odd sources)
    stay 0."""
    for _ in range(level):
        h, w = arr.shape[:2]
        oh, ow = level_size(h, 1), level_size(w, 1)
        out = np.zeros((oh, ow) + arr.shape[2:], dtype=arr.dtype)
        sx = 2 * np.arange(ow) + 1
        sy = 2 * np.arange(oh) + 1
        vx = sx < w
        vy = sy < h
        out[np.ix_(vy, vx)] = arr[np.ix_(sy[vy], sx[vx])]
        arr = out
    return arr


def retile_image(arr: np.ndarray, tw: int, th: int, overlap: int = 0,
                 levels: int = 0):
    """Yield (level, row, col, ox, oy, width, height, tile_array) for
    the base grid and ``levels`` pyramid levels."""
    for lvl in range(levels + 1):
        cur = level_pixels(arr, lvl) if lvl else arr
        h, w = cur.shape[:2]
        for row, col, ox, oy, cw, ch in tile_grid(w, h, tw, th, overlap):
            yield (lvl, row, col, ox, oy, cw, ch,
                   cur[oy : oy + ch, ox : ox + cw])


def retile_grid_df(images: DataFrame, tw: int, th: int,
                   overlap: int = 0) -> DataFrame:
    """Distributed tile-grid catalog (no pixels): one row per output
    tile with its source window — pure Column math, zero shuffle."""
    _check_overlap(tw, overlap)
    _check_overlap(th, overlap)
    step_x, step_y = tw - overlap, th - overlap
    cx = F.when(
        F.col("w") > tw,
        F.lit(1) + F.floor((F.col("w") - tw + step_x - 1) / step_x),
    ).otherwise(F.lit(1)).cast("int")
    cy = F.when(
        F.col("h") > th,
        F.lit(1) + F.floor((F.col("h") - th + step_y - 1) / step_y),
    ).otherwise(F.lit(1)).cast("int")
    df = (
        images.withColumn("_cx", cx)
        .withColumn("_cy", cy)
        .withColumn("col", F.explode(F.sequence(F.lit(1), F.col("_cx"))))
        .withColumn("row", F.explode(F.sequence(F.lit(1), F.col("_cy"))))
    )
    ox = (F.col("col") - 1) * step_x
    oy = (F.col("row") - 1) * step_y
    return (
        df.withColumn("ox", ox.cast("int"))
        .withColumn("oy", oy.cast("int"))
        .withColumn("tile_w", F.least(F.lit(tw), F.col("w") - ox).cast("int"))
        .withColumn("tile_h", F.least(F.lit(th), F.col("h") - oy).cast("int"))
        .withColumn(
            "location",
            F.concat_ws("_", F.col("image_id"),
                        F.col("row").cast("string"),
                        F.col("col").cast("string")),
        )
        .drop("_cx", "_cy")
    )
