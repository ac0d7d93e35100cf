"""Reference formulations the tests compare the package against.

The package computes these in Spark (Column expressions or Arrow
kernels); the numpy and Column forms here are the independent oracles
that pin them, so they live with the tests, not in the package.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from freemap_tiler_spark.functions.cells import MORTON_MASK, ZOOM_SHIFT, np_cell_zxy
from freemap_tiler_spark.functions.mercator import WORLD
from freemap_tiler_spark.operators.pyramid import PAYLOAD_SCHEMA
from freemap_tiler_spark.operators.similarity import _plane_coeff


def np_ancestor(cell, n: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> ZOOM_SHIFT
    m = cell & MORTON_MASK
    return ((z - n) << ZOOM_SHIFT) | (m >> (2 * n))


def np_children(cell) -> np.ndarray:
    """(N,) -> (N, 4) children, row-major NW,NE,SW,SE (child i at (i&1, i>>1))."""
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> ZOOM_SHIFT
    m = cell & MORTON_MASK
    base = ((z + 1) << ZOOM_SHIFT) | (m << 2)
    # morton low bits: x-bit at position 0, y-bit at position 1 -> child i
    # contributes (i&1) | ((i>>1)<<1) == i. Row-major order == +0..+3.
    return base[..., None] + np.arange(4, dtype=np.int64)


def np_sector_in_ancestor(cell, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid position of a tile inside its zoom-n ancestor (src/processor.rs:453)."""
    _, x, y = np_cell_zxy(cell)
    mask = (1 << n) - 1
    return x & mask, y & mask


def np_reversed_y(z, y) -> np.ndarray:
    return (np.int64(1) << np.asarray(z, dtype=np.int64)) - 1 - np.asarray(y, dtype=np.int64)


def np_tile_bounds(z, x, y, size: float = WORLD) -> tuple[np.ndarray, ...]:
    """EPSG:3857 (min_x, min_y, max_x, max_y) of a tile (src/main.rs:185)."""
    z = np.asarray(z, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    span = size / (np.int64(1) << z).astype(np.float64)
    min_x = x * span - size / 2.0
    max_y = size / 2.0 - y * span
    return min_x, max_y - span, min_x + span, max_y


def srp_bucket(vec, dim: int, n_planes: int = 12, table: int = 0) -> Column:
    """Sign-random-projection bucket id (int, n_planes bits) as one Column
    expression per plane: the reference for ``similarity.srp_bucket_rows``."""
    out = F.lit(0).cast("long")
    for p in range(n_planes):
        coeff = _plane_coeff(table, p, dim)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in coeff]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        out = out.bitwiseOR(F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    return out


def read_pyramid(spark, root: str):
    """Every written level of ``root`` as one DataFrame (cell, payload,
    zoom): the whole pyramid the tests compare runs by."""
    return spark.read.schema(f"{PAYLOAD_SCHEMA}, zoom int").parquet(
        os.path.join(root, "tiles"))


def minhash_signature(text_col, num_hashes: int = 8) -> Column:
    """array<long> MinHash signature as Column higher-order functions: per
    hash i, min over shingles of (A[i] * (md5_60(shingle) mod P) + B[i])
    mod P.  The reference for ``dedup.minhash_signatures``."""
    from freemap_tiler_spark.operators.dedup import A, B, P, shingles, token_hash

    def perm(i):
        return lambda h: (F.lit(A[i]) * h + F.lit(B[i])) % P

    base = F.transform(shingles(text_col), lambda s: token_hash(s) % P)
    return F.array(*[F.array_min(F.transform(base, perm(i))) for i in range(num_hashes)])
