"""Bit-exact reimplementation of GDAL's 16-bit image checksum.

Semantics from alg/gdalchecksum.cpp:48-175 (re-derived, not copied):

    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    checksum = ( sum over pixels in row-major order of
                 int(value) %C primes[(y * W + x) % 11] ) & 0xFFFF

where %C is C truncated modulo (sign of dividend) and int(value) for
floating data is GDALCopyWords' float->Int32: v += 0.5; clamp to
[-2147483647, 2147483647]; floor; NaN/inf -> INT_MIN.

This is the golden-output primitive used by virtually every autotest
assertion — our pixel-parity gate.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.uint8)


def _int_from_double(vals: np.ndarray) -> np.ndarray:
    out = np.empty(vals.shape, dtype=np.int64)
    finite = np.isfinite(vals)
    v = vals + 0.5
    out[~finite] = np.iinfo(np.int32).min
    low = finite & (v < -2147483647.0)
    high = finite & (v > 2147483647.0)
    mid = finite & ~low & ~high
    out[low] = -2147483647
    out[high] = 2147483647
    out[mid] = np.floor(v[mid]).astype(np.int64)
    return out


@lru_cache(maxsize=16)
def _prime_grid(h: int, w: int) -> np.ndarray:
    """Read-only (h, w) grid of primes[(y * w + x) % 11]; uint8, so a
    cached grid costs one byte per pixel."""
    grid = _PRIMES[np.arange(h * w) % 11].reshape(h, w)
    grid.flags.writeable = False
    return grid


def gdal_checksum(band: np.ndarray) -> int:
    """Checksum of one 2-D band (any dtype), full-window semantics."""
    band = np.asarray(band)
    h, w = band.shape
    if band.dtype.kind == "f":
        ints = _int_from_double(band.astype(np.float64))
    else:
        ints = band.astype(np.int64)
    # fmod is C truncated modulo on integers: sign follows the dividend
    mods = np.fmod(ints, _prime_grid(h, w))
    return int(mods.sum()) & 0xFFFF


def gdal_checksum_image(arr: np.ndarray) -> list[int]:
    """Per-band checksums of an (h, w[, c]) array."""
    if arr.ndim == 2:
        return [gdal_checksum(arr)]
    return [gdal_checksum(arr[:, :, b]) for b in range(arr.shape[2])]
