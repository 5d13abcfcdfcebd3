"""gdal_retile semantics (osgeo_utils/gdal_retile.py)."""

import numpy as np
import pytest

from gdal_spark.fixtures.georef import np_image_pixels
from gdal_spark.operators.retile import (
    level_pixels,
    level_size,
    retile_grid_df,
    retile_image,
    tile_counts,
    tile_grid,
)
from gdal_spark.raster.png import decode_png, encode_png


def ref_tile_counts(size, tile, overlap):
    # tile_info.__init__ verbatim (gdal_retile.py:92-103)
    count = 1
    if size > tile:
        count += int((size - tile + (tile - overlap) - 1) / (tile - overlap))
    return count


def test_grid_matches_reference_formula():
    for size in (1, 20, 64, 96, 97, 100, 256, 257, 512, 1000):
        for tile in (64, 96, 256):
            for ov in (0, 16, 32):
                assert tile_counts(size, tile, ov) == ref_tile_counts(
                    size, tile, ov
                ), (size, tile, ov)


def test_tiles_clip_and_cover():
    for w, h in ((257, 100), (512, 512), (20, 20), (96, 96), (97, 96)):
        tiles = list(tile_grid(w, h, 96, 96, overlap=16))
        # every source pixel covered; last tiles clipped, never padded
        seen = np.zeros((h, w), dtype=bool)
        for row, col, ox, oy, cw, ch in tiles:
            assert 1 <= row and 1 <= col
            assert ox + cw <= w and oy + ch <= h
            assert cw >= 1 and ch >= 1
            seen[oy : oy + ch, ox : ox + cw] = True
        assert seen.all()


def test_pyramid_near_semantics():
    # src = 2*dst + 1; odd-size edges stay 0 (ReprojectImage into an
    # unfilled Create()d dataset)
    arr = np.arange(9 * 7, dtype=np.int64).reshape(9, 7)
    lv = level_pixels(arr, 1)
    assert lv.shape == (level_size(9, 1), level_size(7, 1)) == (5, 4)
    for y in range(5):
        for x in range(4):
            sy, sx = 2 * y + 1, 2 * x + 1
            want = arr[sy, sx] if sy < 9 and sx < 7 else 0
            assert lv[y, x] == want
    # two levels compose
    assert level_pixels(arr, 2).shape == (3, 2)


def test_retile_real_bytes_roundtrip():
    arr = np_image_pixels(5, 100, 60)
    back = decode_png(encode_png(arr))
    tiles = list(retile_image(back, 48, 48, overlap=8, levels=1))
    base = [t for t in tiles if t[0] == 0]
    # reassemble level 0 from (possibly overlapping) tiles
    out = np.zeros_like(back)
    for _l, _r, _c, ox, oy, cw, ch, tile in base:
        assert tile.shape[:2] == (ch, cw)
        out[oy : oy + ch, ox : ox + cw] = tile
    assert np.array_equal(out, arr)
    lv1 = [t for t in tiles if t[0] == 1]
    # level 1 is 50x30: columns at 0 (48 wide) and 40 (clipped to 10)
    assert {t[7].shape[:2] for t in lv1} == {(30, 48), (30, 10)}


def test_grid_df_matches_kernel(spark):
    from gdal_spark.fixtures.georef import with_image_geo

    geo = with_image_geo(spark.range(8).withColumnRenamed("id", "i"), "i")
    rows = retile_grid_df(geo, 96, 96, overlap=16).select(
        "i", "row", "col", "ox", "oy", "tile_w", "tile_h", "location"
    ).collect()
    got = {(r["i"], r["row"], r["col"]): r for r in rows}
    src = {r["i"]: (r["w"], r["h"], r["image_id"]) for r in geo.collect()}
    want = {
        (i, row, col): (ox, oy, cw, ch)
        for i, (w, h, _iid) in src.items()
        for row, col, ox, oy, cw, ch in tile_grid(w, h, 96, 96, 16)
    }
    assert set(got) == set(want)
    for key, (ox, oy, cw, ch) in want.items():
        r = got[key]
        assert (r["ox"], r["oy"], r["tile_w"], r["tile_h"]) == (ox, oy, cw, ch)
        iid = src[key[0]][2]
        assert r["location"] == f"{iid}_{key[1]}_{key[2]}"


def test_overlap_not_below_tile_raises():
    for overlap in (96, 120, -1):
        with pytest.raises(ValueError, match="overlap"):
            tile_counts(500, 96, overlap)
        with pytest.raises(ValueError, match="overlap"):
            list(tile_grid(500, 500, 96, 96, overlap))
    with pytest.raises(ValueError, match="overlap"):
        retile_grid_df(None, 96, 48, overlap=48)
