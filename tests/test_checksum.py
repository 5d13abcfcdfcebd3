"""GDAL checksum parity (semantics: alg/gdalchecksum.cpp:48-175)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from gdal_spark.raster.checksum import gdal_checksum, gdal_checksum_image

PRIMES = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]


def brute_checksum(band):
    h, w = band.shape
    total = 0
    for y in range(h):
        for x in range(w):
            v = band[y, x]
            if isinstance(v, (np.floating, float)):
                fv = float(v) + 0.5
                if not np.isfinite(fv):
                    iv = np.iinfo(np.int32).min
                elif fv < -2147483647.0:
                    iv = -2147483647
                elif fv > 2147483647.0:
                    iv = 2147483647
                else:
                    iv = int(np.floor(fv))
            else:
                iv = int(v)
            p = PRIMES[(y * w + x) % 11]
            m = iv % p if iv >= 0 else -((-iv) % p)
            total = (total + m) & 0xFFFF
    return total


def test_uint8_matches_reference_loop():
    rng = np.random.default_rng(1)
    band = rng.integers(0, 256, (13, 17)).astype(np.uint8)
    assert gdal_checksum(band) == brute_checksum(band)


def test_float_rounding_and_negative():
    band = np.array([[0.4, 0.6], [-3.2, 2147483646.9]], dtype=np.float64)
    assert gdal_checksum(band) == brute_checksum(band)


def test_nan_goes_intmin():
    band = np.array([[np.nan, 1.0]], dtype=np.float64)
    assert gdal_checksum(band) == brute_checksum(band)


def test_multiband():
    rng = np.random.default_rng(2)
    arr = rng.integers(0, 256, (8, 9, 3)).astype(np.uint8)
    cs = gdal_checksum_image(arr)
    assert cs == [brute_checksum(arr[:, :, b]) for b in range(3)]


_shapes = st.tuples(st.integers(1, 12), st.integers(1, 12))


@settings(max_examples=80, deadline=None)
@given(st.sampled_from([np.uint8, np.uint16, np.bool_, np.int16, np.int32,
                        np.int64, np.float32, np.float64]).flatmap(
    lambda dt: _shapes.flatmap(lambda s: arrays(dt, s))))
def test_every_dtype_matches_reference_loop(band):
    assert gdal_checksum(band) == brute_checksum(band)


def test_prime_grid_is_shared_read_only_and_one_byte_per_pixel():
    from gdal_spark.raster.checksum import _prime_grid

    band = np.full((256, 256), 200, dtype=np.uint8)
    first = gdal_checksum(band)
    grid = _prime_grid(256, 256)
    assert not grid.flags.writeable
    assert _prime_grid(256, 256) is grid
    assert grid.nbytes == band.nbytes
    assert gdal_checksum(band) == first == brute_checksum(band)
