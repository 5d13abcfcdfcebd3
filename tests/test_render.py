"""Warp/resample kernel + tile render tests (gdalwarpkernel.cpp,
overview.cpp semantics)."""

import numpy as np

from gdal_spark.fixtures import georef
from gdal_spark.raster import resample as rs
from gdal_spark.raster.checksum import gdal_checksum
from gdal_spark.tiles import tilemath as tm


def test_nearest_identity():
    # same-resolution aligned grid: dst pixel k center -> src coord
    # k + 0.5 -> floor = k (identity copy)
    src = np.arange(64, dtype=np.uint8).reshape(8, 8)
    dfx, dfy = np.meshgrid(np.arange(8) + 0.5, np.arange(8) + 0.5)
    vals, mask = rs.sample_nearest(src, dfx, dfy)
    assert mask.all()
    assert (vals == src).all()


def test_nearest_out_of_bounds_masked():
    src = np.ones((4, 4), dtype=np.uint8)
    dfx = np.array([[-0.2, 1.0, 4.2]])
    dfy = np.array([[1.0, -0.5, 1.0]])
    _, mask = rs.sample_nearest(src, dfx, dfy)
    assert mask.tolist() == [[False, False, False]]


def test_bilinear_center_exact():
    # at a source pixel center (i+0.5) bilinear returns that pixel
    src = np.arange(16, dtype=np.float64).reshape(4, 4)
    dfx = np.array([[2.5]])
    dfy = np.array([[1.5]])
    vals, mask = rs.sample_bilinear(src, dfx, dfy)
    assert mask.all()
    assert vals[0, 0] == src[1, 2]


def test_bilinear_midpoint_average():
    src = np.array([[0.0, 10.0], [20.0, 30.0]])
    vals, _ = rs.sample_bilinear(src, np.array([[1.0]]), np.array([[1.0]]))
    assert vals[0, 0] == 15.0


def test_bilinear_edge_renormalizes():
    src = np.array([[4.0, 8.0]])
    # dfy = 0.2 -> row -1 missing, weight renormalizes to row 0 only
    vals, mask = rs.sample_bilinear(src, np.array([[1.0]]), np.array([[0.2]]))
    assert mask.all()
    assert abs(vals[0, 0] - 6.0) < 1e-12


def test_average_2x2_round_half_up():
    block = np.array(
        [[0, 1, 2, 2], [0, 0, 2, 3], [255, 255, 0, 0], [255, 254, 0, 1]],
        dtype=np.uint8,
    )
    out = rs.average_2x2(block)
    # means: 0.25 -> 0 (floor(0.75)); 2.25 -> 2; 254.75 -> 255; 0.25 -> 0
    assert out.tolist() == [[0, 2], [255, 0]]


def test_round_to_byte_matches_gdal_cast():
    v = np.array([-3.0, -0.4, 0.49, 0.5, 254.5, 255.7])
    assert rs.round_to_byte(v).tolist() == [0, 0, 0, 1, 255, 255]


def test_render_tile_against_bruteforce(spark):
    """Distributed render == per-pixel brute force for one image."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import render_tiles

    images = build_images(spark, n=3, with_payload=False)
    out = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0)
    rows = out.collect()
    assert rows
    geo = {r["i"]: r.asDict() for r in images.collect()}
    res0 = georef.RES0
    res_z = tm.resolution(12)
    # verify every returned tile against a direct numpy warp
    by_tile: dict = {}
    for r in rows:
        by_tile.setdefault((r["tile_x"], r["tile_y"], r["band"]), r)
    for (tx, ty, band), r in by_tile.items():
        buf = np.zeros((256, 256), dtype=np.uint8)
        for i, g in sorted(geo.items()):
            src = georef.np_image_pixels(i, g["w"], g["h"])[:, :, band]
            dfx, dfy = rs.inverse_grid(
                tx, ty, 12, g["xmin"], g["ymax"], res0, tm.ORIGIN, res_z
            )
            vals, mask = rs.sample_nearest(src, dfx, dfy)
            buf[mask] = vals[mask]
        assert gdal_checksum(buf) == r["checksum"]
        got = np.frombuffer(r["data"], dtype=np.uint8).reshape(256, 256)
        assert (got == buf).all()


def test_cubic_kernel_properties():
    # partition of unity at any phase; exact at source centers
    for t in (0.0, 0.2, 0.5, 0.9):
        w = rs.cubic_kernel(np.array([t + 1, t, t - 1, t - 2]))
        assert abs(w.sum() - 1.0) < 1e-12
    src = np.arange(36, dtype=np.float64).reshape(6, 6)
    dfx = np.array([[3.5]])
    dfy = np.array([[2.5]])
    vals, mask = rs.sample_cubic(src, dfx, dfy)
    assert mask.all()
    assert abs(vals[0, 0] - src[2, 3]) < 1e-9


def test_cubic_linear_surface_exact():
    # Catmull-Rom reproduces linear ramps exactly (away from edges)
    src = np.add.outer(np.arange(10.0), np.arange(10.0) * 2)
    dfx = np.array([[4.3, 5.7], [3.1, 6.9]])
    dfy = np.array([[4.8, 3.2], [5.5, 2.6]])
    vals, _ = rs.sample_cubic(src, dfx, dfy)
    # value at continuous (x, y): row + 2*col with centers at k+0.5
    expect = (dfy - 0.5) + 2 * (dfx - 0.5)
    assert np.allclose(vals, expect, atol=1e-9)


def test_average_window_counts():
    src = np.full((8, 8), 10.0)
    src[0, 0] = 50.0
    x0 = np.array([[0.0]]); x1 = np.array([[2.0]])
    y0 = np.array([[0.0]]); y1 = np.array([[2.0]])
    vals, mask = rs.sample_average(src, x0, x1, y0, y1)
    assert mask.all()
    assert vals[0, 0] == (50 + 10 + 10 + 10) / 4.0
    # off-edge window: only in-bounds centers counted
    vals2, _ = rs.sample_average(src, np.array([[-1.0]]), np.array([[1.0]]),
                                 np.array([[0.0]]), np.array([[2.0]]))
    assert vals2[0, 0] == (50 + 10) / 2.0


def test_build_pyramid_levels(tmp_path, spark):
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import build_pyramid, overview_tiles, render_tiles

    images = build_images(spark, n=2, with_payload=False)
    out = str(tmp_path / "pyr")
    levels = build_pyramid(images, 12, 10, out_dir=out)
    assert set(levels) == {10, 11, 12}
    # level z-1 equals a directly derived overview of level z
    direct = {
        (r["tile_x"], r["tile_y"], r["band"]): r["checksum"]
        for r in overview_tiles(levels[12], with_data=False).collect()
    }
    stored = {
        (r["tile_x"], r["tile_y"], r["band"]): r["checksum"]
        for r in levels[11].select("tile_x", "tile_y", "band", "checksum").collect()
    }
    assert direct == stored
    # resume: second build writes zero new rows at every level
    from gdal_spark.operators.scale import ResumableWriter

    w = ResumableWriter(spark, f"{out}/z=12", keys=["tile_x", "tile_y", "band"])
    base = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0).drop("n_px")
    assert w.run(base)["rows"] == 0


def test_encode_png_tiles(spark):
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import encode_png_tiles, render_tiles
    from gdal_spark.raster.png import decode_png

    images = build_images(spark, n=1, with_payload=False)
    rendered = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0)
    out = encode_png_tiles(rendered, 12).collect()
    assert out
    r = out[0]
    assert r["path"] == f"12/{r['tile_x']}/{r['tile_y']}.png"
    arr = decode_png(bytes(r["png"]))
    assert arr.shape == (256, 256, 3)
    # encoded payload decodes back to the rendered band planes
    band0 = {
        b["band"]: np.frombuffer(b["data"], dtype=np.uint8).reshape(256, 256)
        for b in rendered.where(
            (F.col("tile_x") == r["tile_x"]) & (F.col("tile_y") == r["tile_y"])
        ).collect()
    }
    assert (arr[:, :, 0] == band0[0]).all()
    assert (arr[:, :, 2] == band0[2]).all()


def test_rms_and_mode_overviews():
    block = np.array(
        [[3, 4, 7, 7], [0, 0, 7, 2], [9, 9, 1, 1], [9, 5, 1, 2]], dtype=np.uint8
    )
    rms = rs.rms_2x2(block)
    # quad (0,0)=[3,4,0,0]: sqrt(25/4)=2.5 -> 3; (0,1)=[7,7,7,2]: sqrt(37.75) -> 6
    # (1,0)=[9,9,9,5]: sqrt(67) ~ 8.19 -> 8
    assert rms[0, 0] == 3 and rms[0, 1] == 6 and rms[1, 0] == 8
    mode = rs.mode_2x2(block)
    assert mode[0, 0] == 0          # 0 appears twice
    assert mode[0, 1] == 7          # 7 appears 3x
    assert mode[1, 0] == 9          # 9 appears 3x
    assert mode[1, 1] == 1          # 1 appears 2x beats 2


def test_average_nodata_excluded():
    src = np.array([[10.0, 0.0], [30.0, 40.0]])
    x0 = np.array([[0.0]]); x1 = np.array([[2.0]])
    y0 = np.array([[0.0]]); y1 = np.array([[2.0]])
    vals, mask = rs.sample_average(src, x0, x1, y0, y1, nodata=0.0)
    assert mask.all()
    assert vals[0, 0] == (10 + 30 + 40) / 3.0
    # all-nodata window -> unmasked
    allnd = np.zeros((4, 4))
    _, m2 = rs.sample_average(allnd, x0, x1, y0, y1, nodata=0.0)
    assert not m2[0, 0]


def test_render_decoded_matches_formula(spark):
    """decode -> warp -> composite must equal the synthetic-formula
    path checksum-for-checksum on lossless payloads (PNG/TIFF), and
    agree on coverage for JPEG (pixels lossy, mask identical)."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import render_tiles

    ids = spark.range(30).withColumnRenamed("id", "i")
    lossless = ids.where(F.col("i") % 3 != 1)
    imgs = build_images(spark, ids_df=lossless, with_payload=True)
    dec = {
        (r["tile_x"], r["tile_y"], r["band"]): (r["checksum"], r["n_px"])
        for r in render_tiles(imgs, 12, decode_payload=True).collect()
    }
    ref = {
        (r["tile_x"], r["tile_y"], r["band"]): (r["checksum"], r["n_px"])
        for r in render_tiles(imgs, 12).collect()
    }
    assert dec == ref and len(dec) > 0


def test_lanczos_integer_centers_identity():
    """Lanczos is interpolating: at exact pixel centers (dfSrc =
    k + 0.5) the kernel hits sinc zeros and reproduces the source."""
    src = (np.arange(64, dtype=np.float64).reshape(8, 8) * 3.7) % 251
    gy, gx = np.mgrid[0:8, 0:8]
    vals, mask = rs.sample_lanczos(src, gx + 0.5, gy + 0.5)
    assert mask.all()
    assert np.allclose(vals, src, atol=1e-9)


def test_cubicspline_partitions_unity():
    """B-spline weights sum to 1: constant input -> constant output
    (it is smoothing, NOT interpolating, so no identity test)."""
    src = np.full((8, 8), 77.0)
    rng = np.random.default_rng(5)
    dfx = rng.uniform(2.0, 6.0, (16,))
    dfy = rng.uniform(2.0, 6.0, (16,))
    vals, mask = rs.sample_cubicspline(src, dfx, dfy)
    assert mask.all()
    assert np.allclose(vals, 77.0, atol=1e-9)


def test_kernel_shapes_match_reference_formulas():
    # CubicSplineKernel(0) = (8 - 4*1)/6 = 2/3; (1) = (27-4*8+6*1)/6=1/6
    assert abs(rs.cubic_bspline_kernel(np.array([0.0]))[0] - 2 / 3) < 1e-12
    assert abs(rs.cubic_bspline_kernel(np.array([1.0]))[0] - 1 / 6) < 1e-12
    assert rs.cubic_bspline_kernel(np.array([2.1]))[0] == 0.0
    # Lanczos: L(0)=1, L(k)=0 for integer k != 0, L(|x|>=3)=0
    assert rs.lanczos_kernel(np.array([0.0]))[0] == 1.0
    assert abs(rs.lanczos_kernel(np.array([1.0]))[0]) < 1e-12
    assert abs(rs.lanczos_kernel(np.array([2.0]))[0]) < 1e-12
    assert rs.lanczos_kernel(np.array([3.0]))[0] == 0.0


def _tile_stage_frames(spark):
    """render -> encode and render -> overview over decoded payloads."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import encode_tiles, overview_tiles, render_tiles

    images = build_images(spark, n=6, with_payload=True)
    rendered = render_tiles(images, 12, with_data=True, decode_payload=True)
    base = rendered.where(F.col("n_px") > 0)
    return {
        "render_tiles": rendered,
        "encode_tiles": encode_tiles(base, 12),
        "overview_tiles": overview_tiles(base.drop("n_px"), with_data=True),
    }


def test_tile_stages_run_one_partition_per_core(spark):
    """AQE would coalesce these byte-light, Python-heavy shuffles into
    one task; the tile stages keep one partition per core."""
    cores = spark.sparkContext.defaultParallelism
    for name, df in _tile_stage_frames(spark).items():
        assert df.rdd.getNumPartitions() == cores, name


def test_tile_stages_grow_past_one_partition_per_core(spark, monkeypatch):
    """A level known to hold more than PAIRS_PER_TASK pairs per core
    gets one partition per PAIRS_PER_TASK; build_pyramid counts the
    base level's covering pairs and sizes every level with it."""
    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators import render

    cores = spark.sparkContext.defaultParallelism
    images = build_images(spark, n=6)
    big = cores * render.PAIRS_PER_TASK + 1
    assert render.render_tiles(images, 12, pairs=big).rdd.getNumPartitions() == cores + 1

    monkeypatch.setattr(render, "PAIRS_PER_TASK", 1)
    pairs = render.covering_tiles(images, 12).count()
    levels = render.build_pyramid(images, 12, 11)
    for z in (12, 11):
        assert levels[z].rdd.getNumPartitions() == max(cores, pairs), z


def test_tile_stages_shuffle_once_per_group(spark):
    """The per-core repartition is the groupBy's own exchange, not an
    extra one: one shuffle exchange per FlatMapGroupsInPandas (the
    payload fixture's broadcast exchange is not a shuffle)."""
    cores = spark.sparkContext.defaultParallelism
    for name, df in _tile_stage_frames(spark).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        groups = plan.count("FlatMapGroupsInPandas")
        exchanges = [ln for ln in plan.splitlines() if "+- Exchange " in ln]
        assert groups >= 1 and len(exchanges) == groups, (name, plan)
        for ln in exchanges:
            assert f", {cores}), REPARTITION_BY_NUM" in ln, (name, ln)


def test_decode_jpeg_same_on_cold_and_warm_table_cache():
    from gdal_spark.raster import jpeg

    arr = georef.np_image_pixels(4, 64, 64)
    blob = jpeg.encode_jpeg(arr, quality=90)
    jpeg._build_decode_table.cache_clear()
    cold = jpeg.decode_jpeg(blob)
    assert jpeg._build_decode_table.cache_info().currsize > 0
    warm = jpeg.decode_jpeg(blob)
    assert jpeg._build_decode_table.cache_info().hits > 0
    assert cold.dtype == warm.dtype and (cold == warm).all()
