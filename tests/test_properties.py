"""Property-based tests (hypothesis) — the engine's analog of the
reference's fuzzer harnesses (autotest fuzzers/, test_random_tiff.py):
geometry, tiling and checksum kernels; the reclassify, ASCII grid, AVI,
hex cell and calc kernels; the GIF LZW, SOZip, BMP, ENVI, PMTiles tile
id and MID quoting codecs."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_spark.geo import ops
from gdal_spark.geo.wkb import parse_wkb, wkb_linestring, wkb_point, wkb_polygon
from gdal_spark.geo.wkt import from_wkt, to_wkt
from gdal_spark.operators.calc import compile_calc
from gdal_spark.raster.asciigrid import (
    decode_aaigrid, decode_xyz, encode_aaigrid, encode_xyz,
)
from gdal_spark.raster.avi import decode_avi, encode_avi
from gdal_spark.raster.bmp import decode_bmp, encode_bmp
from gdal_spark.raster.checksum import gdal_checksum
from gdal_spark.raster.envi import decode_envi, encode_envi
from gdal_spark.raster.gif import decode_gif, encode_gif, lzw_decode, lzw_encode
from gdal_spark.raster.reclassify import parse_mapping
from gdal_spark.sources.mif import _split_mid_line
from gdal_spark.sources.pmtiles import tileid_to_zxy, zxy_to_tileid
from gdal_spark.sources.sozip import sozip_index, write_sozip
from gdal_spark.tiles import hexcell as hx
from gdal_spark.tiles import tilemath as tm

coords = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(st.lists(st.tuples(coords, coords), min_size=2, max_size=20))
@settings(max_examples=50, deadline=None)
def test_wkb_wkt_roundtrip_linestring(pts):
    arr = np.array(pts, dtype=np.float64)
    g = parse_wkb(wkb_linestring(arr))
    back = from_wkt(to_wkt(g))
    assert np.allclose(back.parts[0], arr)


@given(st.tuples(coords, coords))
@settings(max_examples=50, deadline=None)
def test_wkb_point_roundtrip(pt):
    g = parse_wkb(wkb_point(*pt))
    assert np.allclose(g.parts[0][0], pt)


@given(
    st.integers(min_value=3, max_value=9),
    st.floats(min_value=0.1, max_value=50, allow_nan=False),
    st.tuples(coords, coords),
)
@settings(max_examples=30, deadline=None)
def test_convex_hull_of_polygon_contains_it(k, r, center):
    ang = 2 * np.pi * np.arange(k) / k
    ring = np.column_stack(
        [center[0] + r * np.cos(ang), center[1] + r * np.sin(ang)]
    )
    ring = np.vstack([ring, ring[:1]])
    hull = ops.convex_hull(ring[:-1])
    from gdal_spark.geo.geom import polygon_area

    # hull of a convex ring is the ring itself (same area)
    assert abs(polygon_area([hull]) - polygon_area([ring])) <= 1e-6 * max(1.0, r * r)


@given(st.floats(min_value=-179.9, max_value=179.9),
       st.floats(min_value=-84.9, max_value=84.9))
@settings(max_examples=100, deadline=None)
def test_mercator_roundtrip_scalar(lon, lat):
    R = tm.EARTH_RADIUS
    mx = R * math.radians(lon)
    my = R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    lon2 = math.degrees(mx / R)
    lat2 = math.degrees(2 * math.atan(math.exp(my / R)) - math.pi / 2)
    assert abs(lon2 - lon) < 1e-9
    assert abs(lat2 - lat) < 1e-9


@given(st.integers(min_value=0, max_value=2**31 - 1).map(float),
       st.integers(min_value=1, max_value=20))
@settings(max_examples=30, deadline=None)
def test_tile_index_in_range(seed, z):
    # any mercator point yields a clamped tile index in [0, 2^z)
    rng = np.random.default_rng(int(seed))
    mx = rng.uniform(-tm.ORIGIN * 1.5, tm.ORIGIN * 1.5)
    span = tm.resolution(z) * tm.TILE_SIZE
    idx = math.floor((mx + tm.ORIGIN) / span + tm.EPSILON)
    clamped = max(0, min((1 << z) - 1, idx))
    assert 0 <= clamped < (1 << z)


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_checksum_is_16bit_and_deterministic(seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(17, 23), dtype=np.int64)
    c1 = gdal_checksum(arr)
    c2 = gdal_checksum(arr.copy())
    assert c1 == c2
    assert 0 <= c1 <= 0xFFFF
    # float path agrees with int path for integral values
    assert gdal_checksum(arr.astype(np.float64)) == c1


small_coords = st.floats(
    min_value=-50, max_value=50, allow_nan=False, allow_infinity=False
)


@given(st.lists(st.tuples(small_coords, small_coords), min_size=2, max_size=12),
       st.floats(min_value=0.5, max_value=10))
@settings(max_examples=30, deadline=None)
def test_segmentize_preserves_length(pts, max_len):
    arr = np.array(pts, dtype=np.float64)
    out = ops.segmentize(arr, max_len)
    assert abs(ops.line_length(out) - ops.line_length(arr)) < 1e-6 * max(
        1.0, ops.line_length(arr)
    )
    # no segment exceeds max_len (with float slack)
    d = np.hypot(*np.diff(out, axis=0).T)
    assert (d <= max_len * (1 + 1e-9) + 1e-12).all()


@given(st.lists(st.tuples(coords, coords), min_size=3, max_size=12),
       st.floats(min_value=0.001, max_value=100))
@settings(max_examples=30, deadline=None)
def test_simplify_keeps_endpoints_and_subset(pts, tol):
    arr = np.array(pts, dtype=np.float64)
    out = ops.douglas_peucker(arr, tol)
    assert (out[0] == arr[0]).all() and (out[-1] == arr[-1]).all()
    # every output vertex is one of the input vertices
    for p in out:
        assert (np.abs(arr - p).sum(axis=1) < 1e-12).any()


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=30, deadline=None)
def test_rasterize_matches_center_rule(seed):
    from gdal_spark.geo.geom import points_in_polygon
    from gdal_spark.raster.rasterize import fill_polygon_runs

    rng = np.random.default_rng(seed)
    k = int(rng.integers(3, 8))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    cx, cy = rng.uniform(6, 14, 2)
    r = rng.uniform(1, 6)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    m = np.zeros((20, 20), dtype=bool)
    for y, xa, xb in fill_polygon_runs([ring], 20):
        m[y, max(xa, 0):min(xb, 20)] = True
    yy, xx = np.mgrid[0:20, 0:20]
    centers = points_in_polygon((xx + 0.5).ravel(), (yy + 0.5).ravel(), [ring]).reshape(20, 20)
    assert (m == centers).all()


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               min_size=0, max_size=40))
@settings(max_examples=50, deadline=None)
def test_token_hash_range_and_determinism(s):
    from gdal_spark.text.hashing import MOD

    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % MOD
    assert 0 <= h < MOD


@given(st.integers(min_value=0, max_value=2**63 - 1),
       st.integers(min_value=0, max_value=2**63 - 1))
@settings(max_examples=100, deadline=None)
def test_simhash_band_pigeonhole(a, b):
    """Any 64-bit pair at hamming <= 3 shares at least one of the
    4 x 16-bit bands (the exact-recall guarantee of simhash_pairs)."""
    from gdal_spark.text.hashing import SIMHASH64_BANDS

    if bin(a ^ b).count("1") <= SIMHASH64_BANDS - 1:
        shares = any(
            ((a >> (16 * k)) & 0xFFFF) == ((b >> (16 * k)) & 0xFFFF)
            for k in range(SIMHASH64_BANDS)
        )
        assert shares


@given(st.integers(min_value=0, max_value=(1 << 16) - 1),
       st.integers(min_value=0, max_value=(1 << 16) - 1))
@settings(max_examples=50, deadline=None)
def test_morton_key_monotone_in_quadrants(x, y):
    """Morton keys of a point and its containing power-of-two quadrant
    prefix agree on the high bits (the pruning property)."""
    def morton(x, y):
        out = 0
        for bit in range(16):
            out |= ((x >> bit) & 1) << (2 * bit)
            out |= ((y >> bit) & 1) << (2 * bit + 1)
        return out

    k = morton(x, y)
    # coarsening by one level shifts the key by exactly 2 bits
    assert morton(x >> 1, y >> 1) == k >> 2


@given(st.floats(min_value=0.5, max_value=5.5),
       st.floats(min_value=-75, max_value=75))
@settings(max_examples=40, deadline=None)
def test_utm_roundtrip(lon, lat):
    """Krüger series forward/inverse roundtrip within zone 31
    (sub-millimeter closure)."""
    from gdal_spark.geo import crs

    E, N = crs.utm_forward(lon, lat, 31)
    lon2, lat2 = crs.utm_inverse(E, N, 31)
    assert abs(float(lon2) - lon) < 1e-7
    assert abs(float(lat2) - lat) < 1e-7


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_curve_linearize_properties(fid):
    """Arc linearization invariants for any fid-derived arc: vertex
    count follows the nSteps rule, every vertex lies on the circle,
    and the chord sum is below the true arc length but within the
    max-step chord bound."""
    import math

    import numpy as np

    from gdal_spark.geo import curves

    cx, cy = (fid * 7) % 100, (fid * 11) % 100
    R = 5 + fid % 7
    a0 = (fid * 13) % 360
    s1 = 21 + 2 * (fid % 8)
    s2 = 33 + 2 * ((fid * 3) % 9)
    angs = (a0, a0 + s1, a0 + s1 + s2)
    pts = np.array(
        [[cx + R * math.cos(math.radians(a)), cy + R * math.sin(math.radians(a))]
         for a in angs]
    )
    line = curves.circular_to_points(pts)
    n1 = max(4, int(s1 / 4.0 + 0.5))
    n2 = max(4, int(s2 / 4.0 + 0.5))
    assert len(line) == n1 + n2 + 1
    r = np.hypot(line[:, 0] - cx, line[:, 1] - cy)
    assert np.abs(r - R).max() < 1e-9
    d = np.diff(line, axis=0)
    chord_sum = np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2).sum()
    arc_len = math.radians(s1 + s2) * R
    assert chord_sum <= arc_len + 1e-9
    # chord/arc factor sin(t/2)/(t/2); max step in this family
    # is 21/5 = 4.2 deg -> half-step 2.1 deg; bound at 2.2 for slack
    assert chord_sum >= arc_len * math.sin(math.radians(2.2)) / math.radians(2.2) - 1e-9


@given(st.integers(min_value=1, max_value=10**6))
@settings(max_examples=40, deadline=None)
def test_make_valid_bowtie_property(fid):
    import numpy as np

    from gdal_spark.geo.geom import ring_area
    from gdal_spark.geo.makevalid import make_valid_rings

    x0, y0 = (fid * 3) % 50, (fid * 5) % 50
    w = 4 + (fid * 7) % 5
    h = 3 + (fid * 11) % 5
    bow = np.array(
        [[x0, y0], [x0 + w, y0 + h], [x0 + w, y0], [x0, y0 + h], [x0, y0]],
        dtype=np.float64,
    )
    polys = make_valid_rings([bow])
    assert len(polys) == 2
    areas = sorted(abs(ring_area(p[0])) for p in polys)
    assert abs(areas[0] - w * h / 4) < 1e-9
    assert abs(areas[1] - w * h / 4) < 1e-9


@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(1, 30),
                  st.integers(-100, 100)),
        min_size=1, max_size=6,
    ),
    st.lists(st.floats(-50, 250, allow_nan=False), min_size=1, max_size=40),
)
@settings(max_examples=60, deadline=None)
def test_reclassify_matches_scalar_walk(raw_intervals, values):
    """Vectorized apply == per-value linear scan over the parsed
    intervals (non-overlapping by construction)."""
    spans = []
    cursor = -300.0
    for gap, width, dst in raw_intervals:
        lo = cursor + gap + 1
        hi = lo + width
        spans.append((lo, hi, dst))
        cursor = hi
    text = ";".join(f"[{lo},{hi}]={dst}" for lo, hi, dst in spans)
    rc = parse_mapping(text + ";DEFAULT=-999")
    got = rc.apply(np.array(values))
    for v, g in zip(values, got):
        want = -999.0
        for lo, hi, dst in spans:
            if lo <= v <= hi:
                want = float(dst)
                break
        assert g == want, (v, text)


@given(
    st.integers(2, 12), st.integers(2, 12),
    st.integers(-1000, 1000), st.integers(-1000, 1000), st.integers(1, 9),
)
@settings(max_examples=40, deadline=None)
def test_aaigrid_xyz_roundtrip_random_grids(h, w, xll, yll, cell):
    rng = np.random.default_rng(h * 1000 + w)
    arr = rng.integers(-500, 500, (h, w)).astype(np.float64)
    back, geo = decode_aaigrid(
        encode_aaigrid(arr, xll, yll, cell, center=bool(xll % 2))
    )
    np.testing.assert_array_equal(back, arr)
    back2, _ = decode_xyz(
        encode_xyz(back, geo["x0"], geo["y0"], geo["dx"], geo["dy"],
                   sep="," if w % 2 else " ")
    )
    np.testing.assert_array_equal(back2, arr)


@given(st.integers(1, 6), st.integers(2, 10), st.integers(2, 10))
@settings(max_examples=30, deadline=None)
def test_avi_roundtrip_random_dims(n, h, w):
    rng = np.random.default_rng(n * 100 + h * 10 + w)
    frames = rng.integers(0, 256, (n, h, w, 3)).astype(np.uint8)
    out, fps = decode_avi(encode_avi(frames, fps=12))
    assert fps == 12
    np.testing.assert_array_equal(out, frames)


@given(
    st.floats(-85, 85, allow_nan=False),
    st.floats(-180, 180, allow_nan=False),
    st.integers(1, 12),
)
@settings(max_examples=60, deadline=None)
def test_hex_parent_is_coarser_and_nearby(lat, lon, res):
    """parent(cell) contains-ish: the coarse cell of the point and the
    parent of its fine cell have centers within 2 coarse cell sizes
    (geometric aperture-7 reparenting can differ by one step, never
    drift)."""
    fine = hx.encode(np.array([lat]), np.array([lon]), res)
    par = hx.parent(fine, res - 1)
    direct = hx.encode(np.array([lat]), np.array([lon]), res - 1)
    la1, lo1 = hx.cell_center(par)
    la2, lo2 = hx.cell_center(direct)
    s, _, _ = hx._res_params(res - 1)
    # compare on the unit sphere via chord distance
    def xyz(la, lo):
        la, lo = np.radians(la), np.radians(lo)
        return np.stack(
            [np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)],
            axis=-1,
        )
    chord = np.linalg.norm(xyz(la1, lo1) - xyz(la2, lo2))
    assert chord < 4.0 * s


@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255))
@settings(max_examples=60, deadline=None)
def test_calc_scalar_semantics(a, b, c):
    bands = {
        "A": np.array([[a]], dtype=np.int64),
        "B": np.array([[b]], dtype=np.int64),
        "C": np.array([[c]], dtype=np.int64),
    }
    expr = "where(A > B, A - B, B - A) + minimum(B, C) % 7"
    got = compile_calc(expr)(bands)[0, 0]
    assert got == abs(a - b) + min(b, c) % 7


@given(st.integers(2, 8), st.lists(st.integers(0, 255), min_size=1,
                                   max_size=3000))
@settings(max_examples=40, deadline=None)
def test_lzw_roundtrip_any_stream(mcs, vals):
    data = np.asarray([v % (1 << mcs) for v in vals], dtype=np.uint8)
    assert np.array_equal(lzw_decode(lzw_encode(data, mcs), mcs,
                                     len(data)), data)


@given(st.integers(1, 40), st.integers(1, 40), st.integers(2, 256),
       st.booleans(), st.integers(0, 2 ** 31))
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_any_image(h, w, ncol, interlace, seed):
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, ncol, size=(h, w)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(ncol, 3)).astype(np.uint8)
    i2, p2, _ = decode_gif(encode_gif(idx, pal, interlace=interlace))
    assert np.array_equal(i2, idx)
    assert np.array_equal(p2[:ncol], pal)


@given(st.integers(1, 20), st.integers(1, 20), st.integers(0, 2 ** 31))
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_any_shape(h, w, seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(arr)), arr)


@given(st.sampled_from(["bsq", "bil", "bip"]),
       st.integers(1, 12), st.integers(1, 12), st.integers(1, 4),
       st.integers(0, 2 ** 31))
@settings(max_examples=40, deadline=None)
def test_envi_roundtrip_any_layout(il, h, w, b, seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 255, size=(h, w, b)).astype(np.uint8)
    back, _ = decode_envi(*encode_envi(arr, interleave=il))
    assert np.array_equal(back, arr)


@given(st.integers(0, 14), st.integers(0, 2 ** 31), st.integers(0, 2 ** 31))
@settings(max_examples=80, deadline=None)
def test_pmtiles_tileid_bijection(z, xs, ys):
    x = xs % (1 << z)
    y = ys % (1 << z)
    assert tileid_to_zxy(zxy_to_tileid(z, x, y)) == (z, x, y)


@given(st.lists(
    st.one_of(st.none(),
              st.text(alphabet='ab",\\ ', min_size=0, max_size=8),
              st.integers(-999, 999)),
    min_size=1, max_size=6,
))
@settings(max_examples=60, deadline=None)
def test_mid_quoting_roundtrip(vals):
    """The MID writer's quoting rules invert through _split_mid_line."""
    toks = []
    for v in vals:
        if v is None:
            toks.append("")
        elif isinstance(v, str):
            toks.append('"' + v.replace('"', '""') + '"')
        else:
            toks.append(str(v))
    line = ",".join(toks)
    got = _split_mid_line(line, ",")
    assert len(got) == len(vals)
    for g, v in zip(got, vals):
        if v is None:
            assert g is None
        elif isinstance(v, str):
            assert g == v
        else:
            assert g == str(v)


@given(st.lists(st.text(alphabet="abcxyz 0123", min_size=0, max_size=60),
                min_size=1, max_size=60),
       st.integers(8, 200))
@settings(max_examples=25, deadline=None)
def test_sozip_chunk_independence(lines, chunk_size):
    """Every chunk inflates independently to its exact byte slice,
    whatever the chunking (the distributed-scan precondition)."""
    import tempfile
    import zlib

    text = "".join(ln + "\n" for ln in lines)
    data = text.encode()
    with tempfile.NamedTemporaryFile(suffix=".zip") as f:
        write_sozip(f.name, "m.txt", data, chunk_size=chunk_size)
        cs, us, csz, offs, ds = sozip_index(f.name, "m.txt")
        blob = open(f.name, "rb").read()
    assert us == len(data)
    bounds = offs + [csz]
    rec = b""
    for i in range(len(offs)):
        part = zlib.decompressobj(-15).decompress(
            blob[ds + bounds[i]:ds + bounds[i + 1]])
        assert part == data[i * cs:(i + 1) * cs]
        rec += part
    assert rec == data
