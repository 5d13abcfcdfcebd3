"""HSV color-merge — `gdal raster color-merge` re-derived
(apps/gdalalg_raster_color_merge.cpp:128-232, itself derived from the
classic hsv_merge.py): replace the VALUE channel of an RGB image with
a grayscale band, keeping hue and saturation.

Quirk-faithful details (all float32, as the reference):

- s = (max-min)/max(1, max)  (:163-165)
- h by max-channel case with the (g-b)<0 wraparound (:166-177), and
  maxc==minc collapsing the divisor to 1 (:168)
- hsv_to_rgb: i = int(6h), f = 6h - i, p/q/t rounded to bytes with
  +0.5f BEFORE channel selection (:216-231) — so the byte rounding
  happens in v-space, not after selection
- i==5 and i==6 (h==1.0) share the same branch (choose_among default)

No SQL oracle: the reference kernel is float32 arithmetic whose
last-ulp behavior DuckDB's double pipeline cannot mirror; correctness
is pinned by structural tests (s=0 identity, value replacement
exactness, hue preservation, idempotence) like the dither kernel.
"""

from __future__ import annotations

import numpy as np

F32 = np.float32


def rgb_to_hs(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 -> (h, s) float32 planes in [0, 1]."""
    r = rgb[:, :, 0].astype(np.int32)
    g = rgb[:, :, 1].astype(np.int32)
    b = rgb[:, :, 2].astype(np.int32)
    minc = np.minimum(np.minimum(r, g), b)
    maxc = np.maximum(np.maximum(r, g), b)
    span = (maxc - minc).astype(F32)
    s = span / np.maximum(1, maxc).astype(F32)
    div = np.where(span == 0, F32(1.0), F32(6.0) * span).astype(F32)
    h_r = (g - b).astype(F32) / div
    h_r = np.where(h_r < 0, h_r + F32(1.0), h_r)
    h_g = F32(2.0 / 6.0) + (b - r).astype(F32) / div
    h_b = F32(4.0 / 6.0) + (r - g).astype(F32) / div
    h = np.where(maxc == b, h_b, np.where(maxc == g, h_g, h_r)).astype(F32)
    return h, s.astype(F32)


def hsv_to_rgb(h: np.ndarray, s: np.ndarray, v: np.ndarray) -> np.ndarray:
    """h, s float32 in [0,1], v uint8 -> (h, w, 3) uint8."""
    i = (F32(6.0) * h).astype(np.int32)
    f = (F32(6.0) * h - i.astype(F32)).astype(F32)
    vf = v.astype(F32)
    p = (vf * (F32(1.0) - s) + F32(0.5)).astype(np.uint8)
    q = (vf * (F32(1.0) - s * f) + F32(0.5)).astype(np.uint8)
    t = (vf * (F32(1.0) - s * (F32(1.0) - f)) + F32(0.5)).astype(np.uint8)
    idx = np.clip(i, 0, 5)
    r = np.choose(idx, [v, q, p, p, t, v])
    g = np.choose(idx, [t, v, v, q, p, p])
    b = np.choose(idx, [p, p, t, v, v, q])
    return np.stack([r, g, b], axis=-1)


def hsv_merge(rgb: np.ndarray, gray: np.ndarray) -> np.ndarray:
    """Replace V of `rgb` with `gray` (both uint8)."""
    h, s = rgb_to_hs(rgb)
    return hsv_to_rgb(h, s, gray.astype(np.uint8))

