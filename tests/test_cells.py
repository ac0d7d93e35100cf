"""Tile/cell algebra: property tests + Spark-vs-numpy parity (SURVEY §5.1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from freemap_tiler_spark.functions import cells
from oracles import np_ancestor, np_children, np_reversed_y, np_sector_in_ancestor


@st.composite
def zxy(draw):
    z = draw(st.integers(0, 20))
    x = draw(st.integers(0, (1 << z) - 1))
    y = draw(st.integers(0, (1 << z) - 1))
    return z, x, y


@given(zxy())
@settings(max_examples=200, deadline=None)
def test_cell_roundtrip(t):
    z, x, y = t
    c = cells.np_cell(z, x, y)
    z2, x2, y2 = cells.np_cell_zxy(c)
    assert (z2, x2, y2) == (z, x, y)


@given(zxy())
@settings(max_examples=200, deadline=None)
def test_parent_children(t):
    z, x, y = t
    c = cells.np_cell(z, x, y)
    ch = np_children(np.array([c]))
    assert (cells.np_parent(ch) == c).all()
    # children order law: child i at offset (i&1, i>>1) — src/processor.rs:261-262
    for i in range(4):
        cz, cx, cy = cells.np_cell_zxy(ch[0, i])
        assert (cz, cx, cy) == (z + 1, 2 * x + (i & 1), 2 * y + (i >> 1))


@given(zxy(), st.integers(0, 5))
@settings(max_examples=100, deadline=None)
def test_ancestor_sector(t, n):
    z, x, y = t
    n = min(n, z)
    c = cells.np_cell(z, x, y)
    a = np_ancestor(c, n)
    az, ax, ay = cells.np_cell_zxy(a)
    assert (az, ax, ay) == (z - n, x >> n, y >> n)
    sx, sy = np_sector_in_ancestor(c, n)
    # sector consistency: ancestor*2^n + sector == original (src/processor.rs:453)
    assert ax * (1 << n) + sx == x and ay * (1 << n) + sy == y


def test_morton_sort_is_zorder():
    """Sorting by cell id == sorting by (zoom, morton) — the Z-order sort
    of src/main.rs:202-204."""
    rng = np.random.RandomState(7)
    z = np.full(500, 10)
    x = rng.randint(0, 1024, 500)
    y = rng.randint(0, 1024, 500)
    c = cells.np_cell(z, x, y)
    order = np.argsort(c)
    m = cells.np_morton(x, y)
    assert (m[order] == np.sort(m)).all()


def test_reversed_y():
    assert np_reversed_y(3, 0) == 7
    assert np_reversed_y(3, 7) == 0


@pytest.mark.spark
def test_column_parity(spark):
    """Spark Column implementations == numpy kernels on random tiles."""
    from pyspark.sql import functions as F

    n2 = F.pow(F.lit(2.0), F.col("z").cast("double")).cast("long")
    df = (
        spark.range(2000)
        .select(
            (F.col("id") % 15 + 1).alias("z"),
            (F.col("id") * 7919).alias("xr"),
            (F.col("id") * 104729).alias("yr"),
        )
        .select("z", (F.col("xr") % n2).alias("x"), (F.col("yr") % n2).alias("y"))
    )
    got = (
        df.select(
            "z", "x", "y",
            cells.cell("z", "x", "y").alias("c"),
            cells.reversed_y("z", "y").alias("tms"),
        )
        .withColumn("p", cells.parent("c"))
        .withColumn("cx", cells.cell_x("c"))
        .withColumn("cy", cells.cell_y("c"))
        .withColumn("cz", cells.cell_zoom("c"))
        .withColumn("kids", cells.children("c"))
        .withColumn("ci", cells.child_index("c"))
        .toPandas()
    )
    exp = cells.np_cell(got.z.values, got.x.values, got.y.values)
    assert (got.c.values == exp).all()
    assert (got.p.values == cells.np_parent(exp)).all()
    assert (got.cx.values == got.x.values).all()
    assert (got.cy.values == got.y.values).all()
    assert (got.cz.values == got.z.values).all()
    assert (got.tms.values == np_reversed_y(got.z.values, got.y.values)).all()
    kids = np.array([list(k) for k in got.kids])
    assert (kids == np_children(exp)).all()
    assert (got.ci.values == (exp & 3)).all()
