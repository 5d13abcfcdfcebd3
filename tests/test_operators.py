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


# py4j commands (calls, reflection lookups) that building the flagship
# plans took when every operator chained per-operator Column calls and
# withColumn steps; the SQL-text build must stay within a third of it.
PARENT_PLAN_COMMANDS = 2227


def test_flagship_plan_build_round_trips(spark):
    """Building (not running) pip_join and tile_counts(assign_tiles(...))
    costs few py4j round trips. Memory commands ("m") release JVM
    objects of earlier plans whenever Python frees them, so they are
    not counted."""
    from unittest import mock

    from py4j.clientserver import ClientServerConnection

    from gdal_spark.operators.tiling import tile_counts

    images = build_images(spark, n=100, with_payload=False)
    zones = build_zones(spark, n=10)

    def build():
        return pip_join(images, zones), tile_counts(assign_tiles(images, 12))

    build()  # first-use lookups
    commands = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        commands.append(command[:1])
        return send(self, command, *args, **kwargs)

    with mock.patch.object(ClientServerConnection, "send_command", counting):
        plans = build()
    n = sum(c != "m" for c in commands)
    assert 0 < n <= PARENT_PLAN_COMMANDS // 3, n
    assert all(p.schema for p in plans)


def test_pip_join_horizontal_edges_under_ansi(spark):
    """A zone with horizontal edges, probed at exactly those edges'
    latitudes: the crossing test's division stays behind its straddle
    guard (no DIVIDE_BY_ZERO under ANSI mode), and the pairs equal
    PreparedPolygon's."""
    from gdal_spark.geo.geom import PreparedPolygon
    from gdal_spark.geo.wkb import wkb_polygon

    rings = {
        0: [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 5.0], [4.0, 5.0], [4.0, 8.0],
                      [10.0, 8.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])],
        1: [np.array([[20.0, 0.0], [30.0, 0.0], [30.0, 10.0], [20.0, 10.0], [20.0, 0.0]]),
            np.array([[22.0, 5.0], [28.0, 5.0], [28.0, 7.0], [22.0, 7.0], [22.0, 5.0]])],
    }
    zones = spark.createDataFrame(
        [
            (fid, bytearray(wkb_polygon(r)), float(r[0][:, 0].min()), float(r[0][:, 1].min()),
             float(r[0][:, 0].max()), float(r[0][:, 1].max()))
            for fid, r in rings.items()
        ],
        "fid long, geometry binary, zxmin double, zymin double, zxmax double, zymax double",
    )
    xs = np.arange(-1.0, 31.5, 0.5)
    ys = np.array([0.0, 2.5, 5.0, 6.0, 7.0, 8.0, 9.5, 10.0])
    gx, gy = (a.ravel() for a in np.meshgrid(xs, ys))
    ids = [f"p{k}" for k in range(len(gx))]
    points = spark.createDataFrame(
        pd.DataFrame({"image_id": ids, "lon_c": gx, "lat_c": gy})
    )
    exp = set()
    for fid, r in rings.items():
        inside = PreparedPolygon(r).contains_points(gx, gy)
        exp |= {(ids[k], fid) for k in np.flatnonzero(inside)}
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {(r[0], r[1]) for r in pip_join(points, zones).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == exp
    assert any(gy[int(p[1:])] in (0.0, 5.0, 8.0) for p, _ in got)  # on-edge rows count
    assert {fid for _, fid in got} == {0, 1}
