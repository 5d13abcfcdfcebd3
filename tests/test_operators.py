"""Operator golden tests vs local brute-force oracles (reference
semantics at tiny scale, SURVEY.md §5 test strategy)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.fixtures.georef import (
    LCG_A,
    LCG_C,
    LCG_M,
    RES0,
    W_CYCLE,
    H_CYCLE,
)
from gdal_spark.fixtures.images import build_images
from gdal_spark.fixtures.sites import build_sites
from gdal_spark.fixtures.zones import build_zones, zone_rings
from gdal_spark.geo.geom import points_in_polygon
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.spatial_join import pip_join
from gdal_spark.operators.tiling import assign_tiles
from gdal_spark.tiles import tilemath as tm

N_IMAGES = 300
N_ZONES = 40
N_SITES = 25


def np_geo(ids):
    i = np.asarray(ids, dtype=np.int64)
    u1 = (i * LCG_A + LCG_C) % LCG_M
    u2 = (u1 * LCG_A + LCG_C) % LCG_M
    lon = -180.0 + 360.0 * u1 / LCG_M
    lat = -85.0 + 170.0 * u2 / LCG_M
    cx = tm.EARTH_RADIUS * np.radians(lon)
    cy = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    w = np.array(W_CYCLE)[i % 5]
    h = np.array(H_CYCLE)[i % 5]
    return lon, lat, cx, cy, w, h


def test_assign_tiles_matches_numpy_oracle(spark):
    img = build_images(spark, n=N_IMAGES, with_payload=False)
    got = (
        assign_tiles(img, 12)
        .select("image_id", "tile_x", "tile_y")
        .toPandas()
        .sort_values(["image_id", "tile_x", "tile_y"])
        .reset_index(drop=True)
    )
    ids = np.arange(N_IMAGES)
    lon, lat, cx, cy, w, h = np_geo(ids)
    span = tm.resolution(12) * 256
    nmax = (1 << 12) - 1

    def snap(v):
        return np.clip(np.floor(v + 1e-3), 0, nmax).astype(int)

    rows = []
    for idx in range(N_IMAGES):
        xmin = cx[idx] - w[idx] * RES0 / 2
        xmax = cx[idx] + w[idx] * RES0 / 2
        ymin = cy[idx] - h[idx] * RES0 / 2
        ymax = cy[idx] + h[idx] * RES0 / 2
        for tx in range(snap((xmin + tm.ORIGIN) / span), snap((xmax + tm.ORIGIN) / span) + 1):
            for ty in range(snap((tm.ORIGIN - ymax) / span), snap((tm.ORIGIN - ymin) / span) + 1):
                rows.append((f"img_{idx:012d}", tx, ty))
    exp = pd.DataFrame(rows, columns=["image_id", "tile_x", "tile_y"]).sort_values(
        ["image_id", "tile_x", "tile_y"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype({"tile_x": int, "tile_y": int}), exp)


def test_pip_join_matches_bruteforce(spark):
    n_img, n_zones = 2000, 150
    img = build_images(spark, n=n_img, with_payload=False)
    zones = build_zones(spark, n=n_zones)
    got = {
        (r["image_id"], r["fid"])
        for r in pip_join(img, zones).collect()
    }
    ids = np.arange(n_img)
    lon, lat, _, _, _, _ = np_geo(ids)
    exp = set()
    for fid in range(n_zones):
        rings = zone_rings(fid)
        inside = points_in_polygon(lon, lat, rings)
        for idx in np.nonzero(inside)[0]:
            exp.add((f"img_{int(idx):012d}", fid))
    assert got == exp
    assert len(exp) > 0  # fixture must actually exercise the join


def test_pip_join_broadcast_path_same_result(spark):
    img = build_images(spark, n=100, with_payload=False)
    zones = build_zones(spark, n=N_ZONES)
    a = {(r[0], r[1]) for r in pip_join(img, zones).collect()}
    b = {(r[0], r[1]) for r in pip_join(img, zones, broadcast_zones=True).collect()}
    assert a == b


@pytest.mark.parametrize("k", [1, 5])
def test_knn_matches_bruteforce(spark, k):
    img = build_images(spark, n=N_IMAGES, with_payload=False)
    sites = build_sites(spark, n=N_SITES)
    got = (
        knn_join(sites, img, k, n_points_hint=N_IMAGES)
        .select("site_id", "rank", "image_id")
        .toPandas()
        .sort_values(["site_id", "rank"])
        .reset_index(drop=True)
    )
    ids = np.arange(N_IMAGES)
    _, _, cx, cy, _, _ = np_geo(ids)
    sj = np.arange(N_SITES, dtype=np.int64) + 2000003
    su1 = (sj * LCG_A + LCG_C) % LCG_M
    su2 = (su1 * LCG_A + LCG_C) % LCG_M
    slon = -180.0 + 360.0 * su1 / LCG_M
    slat = -85.0 + 170.0 * su2 / LCG_M
    smx = tm.EARTH_RADIUS * np.radians(slon)
    smy = tm.EARTH_RADIUS * np.log(np.tan(np.pi / 4 + np.radians(slat) / 2))
    rows = []
    for s in range(N_SITES):
        d = np.sqrt((smx[s] - cx) ** 2 + (smy[s] - cy) ** 2)
        order = np.lexsort((np.array([f"img_{i:012d}" for i in ids]), d))[:k]
        for rank, idx in enumerate(order, start=1):
            rows.append((f"site_{s:06d}", rank, f"img_{int(idx):012d}"))
    exp = pd.DataFrame(rows, columns=["site_id", "rank", "image_id"]).sort_values(
        ["site_id", "rank"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype({"rank": int}), exp)


def test_images_payload_roundtrip(spark):
    """BASELINE invariants: decoded pixels match the formula (exact
    for png/tiff, PSNR>=40 for jpeg), caption exact, phash verifies."""
    from gdal_spark.fixtures.georef import np_image_pixels, np_phash
    from gdal_spark.raster.codecs import decode_image

    img = build_images(spark, n=12, with_payload=True)
    rows = img.select("i", "bytes", "w", "h", "fmt", "caption", "phash").collect()
    assert len(rows) == 12
    for r in rows:
        arr = decode_image(bytes(r["bytes"]), r["fmt"])
        exp = np_image_pixels(r["i"], r["w"], r["h"])
        assert arr.shape == exp.shape
        if r["fmt"] in ("png", "tiff"):
            assert np.array_equal(arr, exp)
            assert np_phash(arr) == r["phash"]
        else:
            mse = np.mean((arr.astype(float) - exp.astype(float)) ** 2)
            # mse == 0 means bit-exact, which trivially beats 40 dB
            assert mse == 0.0 or 10 * np.log10(255**2 / mse) >= 40.0
        assert r["caption"].startswith(f"synthetic scene {r['i']}: ")


def test_pip_prepared_equals_edges(spark):
    """The edge-parity join equals PreparedPolygon.contains_points
    evaluated in numpy over every (point, zone) pair."""
    from gdal_spark.geo.geom import PreparedPolygon

    images = build_images(spark, n=3000, with_payload=False)
    zones = build_zones(spark, n=60)
    edges = {
        (r["image_id"], r["fid"]) for r in pip_join(images, zones).collect()
    }
    pts = images.select("image_id", "lon_c", "lat_c").toPandas()
    xs = pts["lon_c"].to_numpy(dtype=np.float64)
    ys = pts["lat_c"].to_numpy(dtype=np.float64)
    prepared = set()
    for z in zones.select("fid", "geometry").collect():
        inside = PreparedPolygon(bytes(z["geometry"])).contains_points(xs, ys)
        prepared |= {(pts["image_id"][k], z["fid"]) for k in np.nonzero(inside)[0]}
    assert edges == prepared
    assert edges  # non-trivial
