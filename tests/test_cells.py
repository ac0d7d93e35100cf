"""Tile/cell algebra: property tests + Spark-vs-numpy parity (SURVEY §5.1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

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


@pytest.mark.spark
def test_interleave_matches_numpy_on_full_width_values(spark):
    """The byte-lookup interleave == the numpy shift-and-mask kernels on
    random 32-bit values (part1by1) and 64-bit ones (compact1by1), NULL in
    gives NULL out."""
    import pandas as pd

    rng = np.random.default_rng(11)
    v = rng.integers(0, 1 << 32, 20000, dtype=np.int64)
    w = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 20000, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"v": v, "w": w}))
    got = df.select(
        cells.part1by1("v").alias("p"), cells.compact1by1("w").alias("c")).toPandas()
    assert (got.p.values == cells.np_part1by1(v)).all()
    assert (got.c.values == cells.np_compact1by1(w)).all()
    nul = spark.range(1).select(F.lit(None).cast("long").alias("v"))
    assert nul.select(cells.part1by1("v"), cells.compact1by1("v")).first() == (None, None)


def _name_count(df, name: str) -> int:
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(rf"\b{name}#\d+", plan))


@pytest.mark.spark
def test_interleave_expression_size(spark):
    """A cell expression names its input once per byte lookup: 4 times for
    part1by1, 8 for compact1by1 (the shift-and-mask cascade named it 32
    times, and each copy was planned, pushed into filters and codegen'd)."""
    df = spark.range(1).select(F.col("id").alias("a"))
    assert _name_count(df.select(cells.part1by1("a")), "a") - 1 <= 4
    assert _name_count(df.select(cells.compact1by1("a")), "a") - 1 <= 8


@pytest.mark.spark
def test_assign_cells_computes_the_tile_math_once(spark):
    """``assign_cells`` projects its tile to columns before the cell's byte
    lookups: the y formula (three tan references of asinh(tan(lat))) is in
    the optimized plan once, as ``fy``, not again per lookup."""
    from freemap_tiler_spark.operators import pyramid

    pts = spark.range(3).select((F.col("id") * 1.5).alias("lon"), (F.col("id") * 2.5).alias("lat"))
    plan = pyramid.assign_cells(pts, "lon", "lat", 12)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.upper().count("TAN(") == 3
