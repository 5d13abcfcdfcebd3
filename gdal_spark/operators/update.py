"""`gdal raster update` — warp a source raster INTO an existing
destination dataset, in place.

Re-derives apps/gdalalg_raster_update.cpp: the destination keeps its
grid, georeferencing and every pixel the source does not cover; the
covered window is rewritten through the warp resampler (the reference
builds GDALWarp options and warps into the dataset opened for update,
:205-230; resampling via GDALRasterReprojectUtils::AddResamplingArg,
:59).  Overview refresh (:138, default on) is the caller's follow-up
via operators/render.build_pyramid — pass-through here mirrors
--no-update-overviews.

Scale shape: one narrow Arrow-batched kernel per (dst, src) pair —
bytes in, bytes out, no shuffle; a fleet-wide update is a map over
the catalog exactly like decode/encode elsewhere.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.raster import resample as R
from gdal_spark.raster.tiff import decode_tiff, encode_tiff, read_georef

__all__ = ["raster_update"]

_SAMPLERS = {
    "near": R.sample_nearest,
    "bilinear": R.sample_bilinear,
    "cubic": R.sample_cubic,
}


def raster_update(dst_bytes: bytes, src_bytes: bytes,
                  resampling: str = "near") -> bytes:
    """Warp ``src`` into ``dst`` (both georeferenced GTiff bytes);
    returns the updated destination bytes.  Same-CRS path; a CRS
    mismatch must go through the transformer-chain warp
    (operators/render.render_tiles(crs=...)) first, like the reference
    delegating to GDALWarp's reprojection."""
    if resampling not in _SAMPLERS:
        raise ValueError(f"raster update: unknown resampling {resampling!r}")
    dst_geo = read_georef(dst_bytes)
    src_geo = read_georef(src_bytes)
    if dst_geo is None or src_geo is None:
        raise ValueError("raster update: both rasters must be georeferenced")
    (dst_gt, dst_epsg), (src_gt, src_epsg) = dst_geo, src_geo
    if dst_epsg != src_epsg:
        raise ValueError(
            "raster update: CRS mismatch — reproject the source first "
            "(render_tiles(crs=...) transformer chain)")
    if src_gt[2] or src_gt[4] or dst_gt[2] or dst_gt[4]:
        raise ValueError("raster update: rotated geotransforms unsupported")
    dst = decode_tiff(dst_bytes)
    src = decode_tiff(src_bytes)
    if dst.shape[2:] != src.shape[2:]:
        raise ValueError("raster update: band-count mismatch")
    h, w = dst.shape[:2]
    # continuous source pixel coords of every dst pixel center
    xs = dst_gt[0] + (np.arange(w, dtype=np.float64) + 0.5) * dst_gt[1]
    ys = dst_gt[3] + (np.arange(h, dtype=np.float64) + 0.5) * dst_gt[5]
    dfx = np.broadcast_to((xs[None, :] - src_gt[0]) / src_gt[1], (h, w))
    dfy = np.broadcast_to((ys[:, None] - src_gt[3]) / src_gt[5], (h, w))
    vals, mask = _SAMPLERS[resampling](src, dfx, dfy)
    out = dst.copy()
    if vals.dtype != dst.dtype:
        vals = R.round_to_byte(vals) if dst.dtype == np.uint8 \
            else vals.astype(dst.dtype)
    out[mask] = vals[mask]
    return encode_tiff(out, geo=(dst_gt, dst_epsg))
