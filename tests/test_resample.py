"""Resampling kernels: golden fixtures + invariants (SURVEY §5.2)."""

import numpy as np

from freemap_tiler_spark.functions import resample


def test_constant_preserved():
    for v in (0, 100, 255):
        img = np.full((16, 16, 4), v, np.uint8)
        out = resample.downsample2x(img)
        assert (out == v).all()


def test_lanczos_kernel_shape():
    assert resample.lanczos_kernel(np.array([0.0]))[0] == 1.0
    assert resample.lanczos_kernel(np.array([1.0, 2.0, 3.0])).max() < 1e-12
    assert abs(resample.lanczos_kernel(np.array([0.5]))[0] - 0.6079271018540267) < 1e-12


def test_downsample_2x2_blocks_golden():
    """2:1 downsample of a 2x2 block pattern: golden values pinned
    (determinism across numpy versions — SURVEY §7 hard-part 1)."""
    img = np.zeros((8, 8), np.uint8)
    img[::2, ::2] = 200  # checkerboard-ish
    out = resample.downsample2x(img)
    golden = np.array(
        [[73, 56, 65, 48],
         [56, 43, 50, 37],
         [65, 50, 57, 42],
         [48, 37, 42, 31]], dtype=np.uint8)
    assert (out == golden).all(), out


def test_gradient_monotone():
    g = np.tile(np.arange(16, dtype=np.uint8)[None, :] * 16, (16, 1))
    out = resample.downsample2x(g).astype(int)
    row = out[4]
    assert (np.diff(row) > 0).all()


def test_bilinear_identity():
    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 256
    out = resample.resize_bilinear(img, 8, 8)
    assert (out == img).all()


def test_mosaic_order_law():
    """Child i lands at (x=(i&1)T, y=(i>>1)T) — src/processor.rs:261-262."""
    t = 4
    kids = {i: np.full((t * t, 2), (i + 1) * 10, np.uint8) for i in range(4)}
    canvas = resample.mosaic_children(kids, t, 2)
    assert (canvas[0:t, 0:t, 0] == 10).all()      # i=0 NW
    assert (canvas[0:t, t:2 * t, 0] == 20).all()  # i=1 NE
    assert (canvas[t:2 * t, 0:t, 0] == 30).all()  # i=2 SW
    assert (canvas[t:2 * t, t:2 * t, 0] == 40).all()  # i=3 SE


def test_mosaic_missing_children_zero():
    t = 4
    canvas = resample.mosaic_children({0: np.full((t * t, 2), 9, np.uint8)}, t, 2)
    assert (canvas[t:, :, :] == 0).all() and (canvas[:t, t:, :] == 0).all()
