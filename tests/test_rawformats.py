"""PNM / KRO / GTX / SNODAS raw codecs (frmts/raw/*.cpp, round 5)."""

import struct

import numpy as np
import pytest

from gdal_spark.raster.rawformats import (
    decode_gtx,
    decode_kro,
    decode_pnm,
    decode_snodas,
    encode_gtx,
    encode_kro,
    encode_pnm,
    encode_snodas,
)

rng = np.random.RandomState(3)


def test_pnm_roundtrips_and_header_rules():
    g8 = rng.randint(0, 256, (13, 17)).astype(np.uint8)
    rgb = rng.randint(0, 256, (13, 17, 3)).astype(np.uint8)
    g16 = rng.randint(0, 65536, (9, 5)).astype(np.uint16)
    assert np.array_equal(decode_pnm(encode_pnm(g8)), g8)
    assert np.array_equal(decode_pnm(encode_pnm(rgb)), rgb)
    # maxval >= 256 -> UInt16 big-endian (pnmdataset.cpp:234-237)
    blob16 = encode_pnm(g16)
    assert b"65535" in blob16[:20]
    assert np.array_equal(decode_pnm(blob16), g16)
    assert blob16[blob16.index(b"65535\n") + 6:][:2] == g16.astype(
        ">u2"
    ).tobytes()[:2]
    # '#' comments are skipped in the token walk (:168-206)
    blob = b"P5\n# a comment\n17 13\n255\n" + g8.tobytes()
    assert np.array_equal(decode_pnm(blob), g8)
    with pytest.raises(ValueError, match="P5/P6"):
        decode_pnm(b"P1\n2 2\n0 1 1 0\n")  # ascii pbm rejected


def test_kro_roundtrips_and_magic():
    g8 = rng.randint(0, 256, (6, 7, 4)).astype(np.uint8)
    u16 = rng.randint(0, 65536, (5, 4, 1)).astype(np.uint16)
    f32 = rng.rand(7, 8, 2).astype(np.float32)
    for a in (g8, u16, f32):
        assert np.array_equal(decode_kro(encode_kro(a)), a)
    blob = encode_kro(g8)
    assert blob[:4] == b"KRO\x01"
    assert struct.unpack_from(">iiii", blob, 4) == (7, 6, 8, 4)
    with pytest.raises(ValueError, match="magic"):
        decode_kro(b"KRO\x02" + blob[4:])
    with pytest.raises(ValueError, match="depth"):
        bad = bytearray(blob)
        bad[12:16] = struct.pack(">i", 24)
        decode_kro(bytes(bad))


def test_gtx_south_up_and_corner_shift():
    f = (rng.rand(11, 6) * 5).astype(np.float32)
    blob = encode_gtx(f, ymin=40.0, xmin=-100.0, dy=0.25, dx=0.5)
    back, gt = decode_gtx(blob)
    assert np.array_equal(back, f) and back.dtype == np.float32
    # header stores pixel CENTERS; GDAL shifts to corners
    # (gtxdataset.cpp:258-263) and flips dy negative
    assert gt == (-100.25, 0.5, 0.0, 40.0 + 0.25 * 10 + 0.125, 0.0, -0.25)
    # file rows are south-first: first data row == last array row
    first = np.frombuffer(blob, dtype=">f4", offset=40, count=6)
    assert np.array_equal(first.astype(np.float32), f[-1])
    # legacy float64 payloads auto-detect by size (:288-292)
    legacy = blob[:40] + f[::-1].astype(">f8").tobytes()
    b2, _ = decode_gtx(legacy)
    assert b2.dtype == np.float64 and np.allclose(b2, f)


def test_snodas_header_and_geotransform():
    s = rng.randint(-30000, 30000, (8, 12)).astype(np.int16)
    dat, hdr = encode_snodas(s, -112.5, 33.0, -100.5, 41.0)
    assert hdr.startswith(b"Format version: NOHRSC GIS/RS raster file v1.1")
    a2, gt2, nd = decode_snodas(dat, hdr)
    assert np.array_equal(a2, s)
    assert nd == -9999.0
    assert gt2 == (-112.5, 1.0, 0.0, 41.0, 0.0, -1.0)
    # int16 payload is big-endian (snodasdataset.cpp:89)
    assert dat[:2] == s.astype(">i2").tobytes()[:2]
    with pytest.raises(ValueError, match="NOHRSC"):
        decode_snodas(dat, b"Format version: something else\n")


def test_sigdem_roundtrip_and_header():
    from gdal_spark.raster.rawformats import decode_sigdem, encode_sigdem

    a = rng.randint(-2000, 8000, (14, 19)).astype(np.float64)
    a[3, 4] = np.nan
    blob = encode_sigdem(a, min_x=500.0, max_y=800.0, x_dim=2.0,
                         y_dim=3.0)
    assert blob[:6] == b"SIGDEM"
    # header is BIG-endian; cols/rows at offsets 108/112
    assert struct.unpack_from(">ii", blob, 108) == (19, 14)
    out, gt, crs = decode_sigdem(blob)
    m = np.isfinite(a)
    assert np.allclose(out[m], a[m]) and np.isnan(out[3, 4])
    assert gt == (500.0, 2.0, 0.0, 800.0, 0.0, -3.0) and crs == 4326
    with pytest.raises(ValueError, match="magic"):
        decode_sigdem(b"SIGDIM" + blob[6:])


def test_ngsgeoid_both_endiannesses_and_gt():
    from gdal_spark.raster.rawformats import (decode_ngsgeoid,
                                              encode_ngsgeoid)

    f = (rng.rand(9, 7) * 50).astype(np.float32)
    for le in (True, False):
        blob = encode_ngsgeoid(f, 30.0, -100.0, 0.25, 0.5,
                               little_endian=le)
        back, gt = decode_ngsgeoid(blob)
        assert np.array_equal(back, f)
        # pixel-center header -> half-cell corner shift (:272-277)
        assert gt == (-100.25, 0.5, 0.0, 30.0 + 9 * 0.25 - 0.125,
                      0.0, -0.25)
        # rows stored south-first
        e = "<" if le else ">"
        first = np.frombuffer(blob, dtype=f"{e}f4", offset=44, count=7)
        assert np.array_equal(first.astype(np.float32), f[-1])
    with pytest.raises(ValueError, match="IKIND"):
        decode_ngsgeoid(b"\0" * 60)


def test_jdem_text_records_and_angle_snap():
    from gdal_spark.raster.rawformats import decode_jdem, encode_jdem

    a = (rng.randint(0, 30000, (20, 24)) / 10.0)
    blob = encode_jdem(a, 35.5, 139.25, 36.0, 140.0)
    assert len(blob) == 1011 + 20 * (24 * 5 + 11)
    # header fields: dims at 23/26, packed dddmmss angles at 29..
    assert blob[23:29] == b"024020"
    assert blob[29:36] == b"0353000"  # 35.5 deg == 35d30m00s
    out, gt = decode_jdem(blob)
    assert np.allclose(out, a.astype(np.float32))
    assert abs(gt[0] - 139.25) < 1e-9 and abs(gt[3] - 36.0) < 1e-9
    # row-id cross-check is enforced (jdemdataset.cpp:74)
    bad = bytearray(blob)
    bad[1011 + 6 : 1011 + 9] = b"002"
    with pytest.raises(ValueError, match="row id"):
        decode_jdem(bytes(bad))


def test_ace2_filename_georef():
    from gdal_spark.raster.rawformats import decode_ace2, encode_ace2

    f = rng.rand(180, 180).astype(np.float32) * 100
    arr, gt = decode_ace2(encode_ace2(f), "30S120W_5M")
    assert np.array_equal(arr, f)
    assert gt == (-120.0, 5.0 / 60, 0.0, -30.0 + 180 * (5.0 / 60),
                  0.0, -(5.0 / 60))
    q = rng.randint(0, 100, (180, 180)).astype(np.int16)
    arr2, gt2 = decode_ace2(encode_ace2(q), "45N015E_QUALITY_5M")
    assert np.array_equal(arr2, q) and gt2[0] == 15.0
    with pytest.raises(ValueError, match="hemisphere"):
        decode_ace2(encode_ace2(f), "30X120W_5M")
    with pytest.raises(ValueError, match="grid token"):
        decode_ace2(encode_ace2(f)[:-8], "30S120W_5M")


def test_jdem_angle_snaps_half_seconds_up():
    from gdal_spark.raster.rawformats import _jdem_angle_str

    # 35deg 0m 4.5s: deg * 3600 == 126004.5 exactly; half-to-even
    # rounding would give ...04, the oracle's floor(x + 0.5) gives ...05
    deg = 35 + 4.5 / 3600
    assert deg * 3600 == 126004.5
    assert _jdem_angle_str(deg) == "0350005"
    assert _jdem_angle_str(35 + 3.5 / 3600) == "0350004"
