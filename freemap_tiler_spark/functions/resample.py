"""Resampling kernels: separable Lanczos-3 and bilinear, pure numpy.

These are the engine's equivalents of the reference's two resampling sites:

- GDAL warp with ``GRA_Lanczos`` during megatile reprojection
  (src/warp.rs:19, src/processor.rs:389), and
- ``image::imageops::resize(FilterType::Lanczos3)`` for the 2T->T parent
  downsample in the pyramid compose (src/processor.rs:287-308).

The warp's Lanczos lives with the warp (``operators/raster_ops``); this
module holds the kernel function and the fixed 2:1 parent downsample, a
separable convolution whose output centers all sit at the same fractional
phase, so one precomputed 12-tap kernel serves every row and column and
parents are deterministic across runs (golden-tested in
tests/test_resample.py).

All kernels operate on float32/float64 internally and clip to u8 at the end,
matching the u8 pixel model of the reference (SURVEY.md §1.2).
"""

from __future__ import annotations

import numpy as np

_A = 3  # Lanczos lobes


def lanczos_kernel(x: np.ndarray) -> np.ndarray:
    """sinc(x) * sinc(x/a) windowed to |x| < a, a = 3."""
    x = np.asarray(x, dtype=np.float64)
    out = np.sinc(x) * np.sinc(x / _A)
    out[np.abs(x) >= _A] = 0.0
    return out


# the single 12-tap kernel of the 2:1 resize: every output center sits at
# src 2j+0.5, so the fractional phase is CONSTANT and one kernel serves all
# rows — (idx - center)/2 for idx in [2j-5, 2j+6]; float32 like the canvas,
# so einsum does not upcast
_DOWN2_TAPS = 12
_DOWN2_KERNEL = lanczos_kernel((np.arange(_DOWN2_TAPS) - 5.5) / 2.0)
_DOWN2_KERNEL = (_DOWN2_KERNEL / _DOWN2_KERNEL.sum()).astype(np.float32)


def _down2_axis0(arr: np.ndarray) -> np.ndarray:
    """(2n, W, C) -> (n, W, C) along axis 0: edge-replicate pad (taps past
    an edge weigh the edge pixel) + strided 12-tap reduction."""
    n = arr.shape[0] // 2
    pad = np.concatenate([arr[:1]] * 5 + [arr] + [arr[-1:]] * 6, axis=0)
    s = pad.strides
    view = np.lib.stride_tricks.as_strided(
        pad, shape=(n, _DOWN2_TAPS) + pad.shape[1:], strides=(2 * s[0], s[0]) + s[1:]
    )
    # optimize=False: a 2-operand contraction has exactly one path, and the
    # per-call path search doubles the call cost (measured 85us -> 41us)
    return np.einsum("t,jt...->j...", _DOWN2_KERNEL, view, optimize=False)


def downsample2x(img: np.ndarray) -> np.ndarray:
    """Fixed 2:1 Lanczos-3 downsample of a (2T, 2T) or (2T, 2T, C) u8
    canvas to (T, T[, C]) u8, the pyramid's A1 resize step
    (src/processor.rs:287-308 semantics).

    Separable: rows then columns, each one constant-phase 12-tap kernel
    over a strided view.  float32 throughout, for half the memory traffic
    of float64; a rare pixel on a .5 boundary rounds one step apart from a
    float64 evaluation, and the golden test pins the float32 output."""
    arr = np.asarray(img, dtype=np.float32)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    tmp = _down2_axis0(arr)
    out = _down2_axis0(tmp.transpose(1, 0, 2)).transpose(1, 0, 2)
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[:, :, 0] if squeeze else out


def resize_bilinear(img: np.ndarray, dst_h: int, dst_w: int) -> np.ndarray:
    """Bilinear resize (the reference's alternative GDAL mode), u8 out."""
    arr = np.asarray(img, dtype=np.float64)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    h, w, _ = arr.shape
    ys = (np.arange(dst_h) + 0.5) * h / dst_h - 0.5
    xs = (np.arange(dst_w) + 0.5) * w / dst_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    top = arr[y0][:, x0] * (1 - fx) + arr[y0][:, x1] * fx
    bot = arr[y1][:, x0] * (1 - fx) + arr[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[:, :, 0] if squeeze else out


def mosaic_children(children: dict[int, np.ndarray], tile_size: int, bands: int) -> np.ndarray:
    """Place <=4 child tiles on a 2T x 2T canvas at row-major offsets.

    Child index i lands at (x_off, y_off) = ((i & 1) * T, (i >> 1) * T) —
    the placement law of src/processor.rs:261-262.  Missing children stay
    zero (alpha 0), matching src/processor.rs:254-259.
    """
    t = tile_size
    canvas = np.zeros((2 * t, 2 * t, bands), dtype=np.uint8)
    for i, buf in children.items():
        ox, oy = (i & 1) * t, (i >> 1) * t
        canvas[oy:oy + t, ox:ox + t, :] = buf.reshape(t, t, bands)
    return canvas
