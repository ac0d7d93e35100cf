"""Tile / cell algebra: XYZ tiles as 64-bit Morton cell ids.

This module is the engine's H3/S2-style hierarchical cell index.  A cell id
packs ``(zoom, x, y)`` into one signed 64-bit integer::

    cell = (zoom << 58) | morton(x, y)

where ``morton(x, y)`` bit-interleaves x (even bits) and y (odd bits).
Zoom <= 29 (58 morton bits, 29 bits per axis) — far beyond the reference's
max_zoom 20 workloads (reference README.md:84-168).

The Column forms interleave by byte lookup: ``part1by1`` ORs four
``SPREAD[byte] << 16j`` terms and ``compact1by1`` eight
``COMPACT[byte] << 4j`` terms, each table one 256-entry array literal, so
a cell expression holds its x and y inputs 4 times each, and ``cell_x``/
``cell_y`` hold the cell 8 times: every copy is planned, copied into any
filter Spark pushes below it, and compiled.  Callers that build a cell
from a computed tile project the tile to a column first
(:func:`with_cell`), so the tile math runs once per row.

Semantics mirror the reference's tile ops (implemented there by the external
``tilemath`` crate; semantics pinned by its call sites):

- ``parent``    — (z-1, x>>1, y>>1)                 (src/main.rs:221, src/state.rs:35)
- ``children``  — 4 tiles in row-major NW,NE,SW,SE order: child i at
  offset (i&1, i>>1)                                (src/processor.rs:238,261-262)
- ``ancestor``  — n-fold parent                      (src/main.rs:248, src/processor.rs:339-341)
- ``sector_in_ancestor`` — (x & (2^n - 1), y & (2^n - 1))  (src/processor.rs:453)
- ``reversed_y`` — TMS flip 2^z - 1 - y              (src/tile_inserter.rs:54, src/main.rs:128)
- ``morton sort`` — Z-order locality                 (src/main.rs:202-204)

Two parallel implementations are provided and cross-tested:

1. **Spark Column expressions** (pure JVM arithmetic — stays inside
   whole-stage codegen; no Python in the hot path), and
2. **numpy kernels** (vectorized, used inside pandas UDFs).  The numpy
   forms that only the tests compare against (children, ancestor,
   sector_in_ancestor, reversed_y) live in ``tests/oracles.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZOOM_SHIFT = 58
MORTON_MASK = (1 << ZOOM_SHIFT) - 1

# magic masks for 2-way bit interleave of a 29-bit integer into 58 bits
_B = [
    0x0000_FFFF_0000_FFFF,
    0x00FF_00FF_00FF_00FF,
    0x0F0F_0F0F_0F0F_0F0F,
    0x3333_3333_3333_3333,
    0x5555_5555_5555_5555,
]


# ---------------------------------------------------------------------------
# numpy kernels (vectorized oracle + pandas-UDF building blocks)
# ---------------------------------------------------------------------------

def np_part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of ``v`` so bit k lands at position 2k."""
    v = v.astype(np.int64) & 0xFFFF_FFFF
    v = (v | (v << 16)) & _B[0]
    v = (v | (v << 8)) & _B[1]
    v = (v | (v << 4)) & _B[2]
    v = (v | (v << 2)) & _B[3]
    v = (v | (v << 1)) & _B[4]
    return v


def np_compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`np_part1by1` — gather even bits."""
    v = v.astype(np.int64) & _B[4]
    v = (v | (v >> 1)) & _B[3]
    v = (v | (v >> 2)) & _B[2]
    v = (v | (v >> 4)) & _B[1]
    v = (v | (v >> 8)) & _B[0]
    v = (v | (v >> 16)) & 0xFFFF_FFFF
    return v


def np_morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np_part1by1(np.asarray(x)) | (np_part1by1(np.asarray(y)) << 1)


def np_cell(zoom, x, y) -> np.ndarray:
    z = np.asarray(zoom, dtype=np.int64)
    return (z << ZOOM_SHIFT) | np_morton(x, y)


def np_cell_zxy(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> ZOOM_SHIFT
    m = cell & MORTON_MASK
    return z, np_compact1by1(m), np_compact1by1(m >> 1)


def np_parent(cell) -> np.ndarray:
    """(z-1, x>>1, y>>1): drop 2 morton bits, decrement zoom."""
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> ZOOM_SHIFT
    m = cell & MORTON_MASK
    return ((z - 1) << ZOOM_SHIFT) | (m >> 2)


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

def _c(v) -> Column:
    return v if isinstance(v, Column) else F.col(v)


def _byte_table(values: np.ndarray) -> str:
    return ",".join(str(int(v)) for v in values)


# SPREAD[b]: the 8 bits of byte b moved to the even bits of 16 (bit k -> 2k);
# COMPACT[b]: the even bits of byte b gathered into 4 (bit 2k -> k)
_SPREAD = _byte_table(np_part1by1(np.arange(256)))
_COMPACT = _byte_table(np_compact1by1(np.arange(256)))


def _lookup(v: Column, table: str, n_bytes: int, out_bits: int) -> Column:
    """OR over the low ``n_bytes`` bytes of ``v`` of ``table[byte]``, the
    j-th shifted left by ``j * out_bits``.  ``v`` appears once per byte.

    The 256 entries are one string literal split and cast to array<bigint>,
    which the optimizer folds into a single array ``Literal``: three py4j
    calls, where ``F.lit(ndarray)`` makes one per element (28 ms a table
    on 4 vCPU)."""
    t = F.split(F.lit(table), ",").cast("array<bigint>")
    out = None
    for j in range(n_bytes):
        byte = (F.shiftright(v, 8 * j) if j else v).bitwiseAND(255).cast("int")
        term = F.shiftleft(t[byte], out_bits * j) if j else t[byte]
        out = term if out is None else out.bitwiseOR(term)
    return out


def part1by1(col) -> Column:
    """Spread the low 32 bits so bit k lands at 2k: 4 byte lookups."""
    return _lookup(_c(col).cast("long"), _SPREAD, 4, 16)


def compact1by1(col) -> Column:
    """Inverse of :func:`part1by1` — gather even bits: 8 byte lookups."""
    return _lookup(_c(col).cast("long"), _COMPACT, 8, 4)


def morton(x, y) -> Column:
    return part1by1(x).bitwiseOR(F.shiftleft(part1by1(y), 1))


def cell(zoom, x, y) -> Column:
    return F.shiftleft(_c(zoom).cast("long"), ZOOM_SHIFT).bitwiseOR(morton(x, y))


def with_cell(df: DataFrame, zoom: int, tx: Column, ty: Column, name: str) -> DataFrame:
    """``df`` plus column ``name``, the cell of tile ``(tx, ty)`` at
    ``zoom``.  The tile is projected to columns first, so its math runs
    once per row, not once per byte lookup."""
    return (
        df.withColumns({"_ctx": tx, "_cty": ty})
        .withColumn(name, cell(F.lit(zoom), F.col("_ctx"), F.col("_cty")))
        .drop("_ctx", "_cty")
    )


def cell_zoom(cell_col) -> Column:
    return F.shiftright(_c(cell_col), ZOOM_SHIFT)


def cell_x(cell_col) -> Column:
    return compact1by1(_c(cell_col).bitwiseAND(F.lit(MORTON_MASK)))


def cell_y(cell_col) -> Column:
    return compact1by1(F.shiftright(_c(cell_col).bitwiseAND(F.lit(MORTON_MASK)), 1))


def parent(cell_col) -> Column:
    """Parent cell (src/main.rs:221 semantics) as pure column arithmetic."""
    c = _c(cell_col)
    z = F.shiftright(c, ZOOM_SHIFT)
    m = c.bitwiseAND(F.lit(MORTON_MASK))
    return F.shiftleft(z - 1, ZOOM_SHIFT).bitwiseOR(F.shiftright(m, 2))


def ancestor(cell_col, n: int) -> Column:
    """n-fold parent (src/main.rs:248, src/state.rs:63 semantics)."""
    c = _c(cell_col)
    z = F.shiftright(c, ZOOM_SHIFT)
    m = c.bitwiseAND(F.lit(MORTON_MASK))
    return F.shiftleft(z - n, ZOOM_SHIFT).bitwiseOR(F.shiftright(m, 2 * n))


def children(cell_col) -> Column:
    """array<long> of the 4 children in row-major NW,NE,SW,SE order
    (src/processor.rs:261-262 placement law)."""
    c = _c(cell_col)
    z = F.shiftright(c, ZOOM_SHIFT)
    m = c.bitwiseAND(F.lit(MORTON_MASK))
    base = F.shiftleft(z + 1, ZOOM_SHIFT).bitwiseOR(F.shiftleft(m, 2))
    return F.array(*[base + F.lit(i) for i in range(4)])


def child_index(cell_col) -> Column:
    """Position of a cell inside its parent: 0..3, row-major (i&1, i>>1)."""
    return _c(cell_col).bitwiseAND(F.lit(3))


def sector_in_ancestor_x(cell_col, n: int) -> Column:
    return cell_x(cell_col).bitwiseAND(F.lit((1 << n) - 1))


def sector_in_ancestor_y(cell_col, n: int) -> Column:
    return cell_y(cell_col).bitwiseAND(F.lit((1 << n) - 1))


def reversed_y(zoom, y) -> Column:
    """TMS row flip 2^z - 1 - y (src/tile_inserter.rs:54).

    Integer shift, not pow(2.0, z): the double path is exact only for
    z <= 29 and inconsistent with the bit math used everywhere else."""
    n = F.call_function("shiftleft", F.lit(1).cast("long"), _c(zoom).cast("int"))
    return n - 1 - _c(y).cast("long")
