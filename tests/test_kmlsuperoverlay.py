"""KML SuperOverlay pyramid (frmts/kmlsuperoverlay)."""

import os
import tempfile

import numpy as np

from gdal_spark.operators.kmlsuperoverlay import (
    read_kml_superoverlay,
    write_kml_superoverlay,
)
from gdal_spark.tiles import tilemath as tm


def _tiles(spark):
    from gdal_spark.raster.png import encode_png

    rows = []
    for z, x, y in [(2, 1, 1), (3, 2, 2), (3, 3, 2)]:
        arr = np.full((8, 8, 3), z * 50 + x + y, np.uint8)
        rows.append((z, x, y, bytearray(encode_png(arr))))
    return spark.createDataFrame(
        rows, "tile_z int, tile_x int, tile_y int, payload binary"
    )


def test_tree_layout_and_boxes(spark):
    root = os.path.join(tempfile.mkdtemp(), "so")
    n = write_kml_superoverlay(_tiles(spark), root)
    assert n == 7  # 3 kml + 3 png + doc.kml
    assert os.path.exists(os.path.join(root, "doc.kml"))
    assert os.path.exists(os.path.join(root, "2", "1", "1.kml"))
    assert os.path.exists(os.path.join(root, "2", "1", "1.png"))
    rows = {(r["tile_z"], r["tile_x"], r["tile_y"]): r
            for r in read_kml_superoverlay(spark, root).collect()}
    assert set(rows) == {(2, 1, 1), (3, 2, 2), (3, 3, 2)}
    r = rows[(2, 1, 1)]
    w, s, e, nn = tm.tile_bounds_deg(2, 1, 1)
    assert abs(r["west"] - w) < 1e-12 and abs(r["north"] - nn) < 1e-12
    assert abs(r["south"] - s) < 1e-12 and abs(r["east"] - e) < 1e-12
    assert r["href"] == "1.png"
    # non-leaf tile links its four children; leaves link none
    assert r["n_children"] == 4
    assert rows[(3, 2, 2)]["n_children"] == 0


def test_doc_kml_points_at_root_tile(spark):
    root = os.path.join(tempfile.mkdtemp(), "so2")
    write_kml_superoverlay(_tiles(spark), root)
    doc = open(os.path.join(root, "doc.kml")).read()
    assert "<href>2/1/1.kml</href>" in doc
    assert "onRegion" in doc and "minLodPixels" in doc


def test_doc_kml_roots_at_written_tile_of_l_shaped_set(spark):
    from gdal_spark.raster.png import encode_png

    # minima per column would be (3, 1, 1), which is not written
    tiles = [(3, 1, 2), (3, 2, 2), (3, 2, 1)]
    rows = [(z, x, y, bytearray(encode_png(np.zeros((8, 8, 3), np.uint8))))
            for z, x, y in tiles]
    df = spark.createDataFrame(
        rows, "tile_z int, tile_x int, tile_y int, payload binary"
    )
    root = os.path.join(tempfile.mkdtemp(), "so3")
    write_kml_superoverlay(df, root)
    doc = open(os.path.join(root, "doc.kml")).read()
    assert "<href>3/1/2.kml</href>" in doc
    assert os.path.exists(os.path.join(root, "3", "1", "2.kml"))
