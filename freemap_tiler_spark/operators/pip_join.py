"""Point-in-polygon joins.

Generalizes the reference's single-polygon tile prune (rectangle-intersects-
polygon filter, src/main.rs:183-199) to a relational join between a point
table and a polygon layer, per BASELINE.json ("point-in-polygon joins ...
broadcast R-tree for small layers and a cell-prefix repartition-join with
salting for skewed hot cells").

Two physical strategies, chosen by layer size (the engine's only
"optimizer" decision, SURVEY.md §4):

- **Broadcast path** (small layer): polygon vertex arrays ship to every
  executor inside the UDF closure; candidate pruning via a vectorized bbox
  test (the flat R-tree: all boxes checked at once in numpy — at <=10^4
  polygons a dense bbox matrix beats tree traversal), then an exact
  even-odd ray-cast.  No shuffle at all.

- **Cell-prefix path** (large layer): polygons exploded to covering cells
  at a chosen zoom (the generalization of the reference's
  bbox_covered_tiles enumeration, src/main.rs:173-181), points assigned to
  the same cells (pure Column math), equi-join on cell (AQE handles skew;
  see operators.skew for explicit salting), exact ray-cast after the join.

Geometry model: a polygon = one or more rings; ring 0 is the outer shell,
further rings are holes.  The even-odd rule over all rings handles holes
with no special casing.  Coordinates are planar (lon/lat degrees or
EPSG:3857 meters — the test is affine-invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, mercator

POLYGON_SCHEMA = (
    "poly_id long, ring_idx int, xs array<double>, ys array<double>, tag string"
)


def ray_cast(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd crossing test: (N,) points vs one (M,) ring.

    Returns (N,) bool of crossing parity against this ring; XOR parities
    across a polygon's rings for the with-holes test.
    """
    x1, y1 = xs, ys
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    py_ = py[:, None]
    px_ = px[:, None]
    crosses = (y1[None, :] > py_) != (y2[None, :] > py_)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py_ - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    hits = crosses & (px_ < xint)
    return hits.sum(axis=1) % 2 == 1


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, rings: list[tuple[np.ndarray, np.ndarray]]
) -> np.ndarray:
    """Even-odd over all rings (outer + holes)."""
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        inside ^= ray_cast(px, py, xs, ys)
    return inside


def _segments_hit_rects(
    p1x: np.ndarray, p1y: np.ndarray, p2x: np.ndarray, p2y: np.ndarray,
    lon0: np.ndarray, lat0: np.ndarray, lon1: np.ndarray, lat1: np.ndarray,
) -> np.ndarray:
    """(rects,) bool: does ANY segment (E,) intersect each SOLID
    axis-aligned rect (N,)?  Vectorized Liang-Barsky: clip the segment
    parameter range [0, 1] against the 4 slabs; nonempty remainder == hit.
    Zero-extent axes (vertical/horizontal/point segments) fall out of the
    same formula by substituting an infinite t-range when the fixed
    coordinate lies in the slab and an empty one when it doesn't."""
    dx = (p2x - p1x)[None, :]
    dy = (p2y - p1y)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        tax = (lon0[:, None] - p1x[None, :]) / dx
        tbx = (lon1[:, None] - p1x[None, :]) / dx
        tay = (lat0[:, None] - p1y[None, :]) / dy
        tby = (lat1[:, None] - p1y[None, :]) / dy
    inf = np.inf
    zx = dx == 0
    in_x = (p1x[None, :] >= lon0[:, None]) & (p1x[None, :] <= lon1[:, None])
    tx_lo = np.where(zx, np.where(in_x, -inf, inf), np.minimum(tax, tbx))
    tx_hi = np.where(zx, np.where(in_x, inf, -inf), np.maximum(tax, tbx))
    zy = dy == 0
    in_y = (p1y[None, :] >= lat0[:, None]) & (p1y[None, :] <= lat1[:, None])
    ty_lo = np.where(zy, np.where(in_y, -inf, inf), np.minimum(tay, tby))
    ty_hi = np.where(zy, np.where(in_y, inf, -inf), np.maximum(tay, tby))
    t0 = np.maximum(0.0, np.maximum(tx_lo, ty_lo))
    t1 = np.minimum(1.0, np.minimum(tx_hi, ty_hi))
    return (t0 <= t1).any(axis=1)


def collect_polygons(polygons: DataFrame) -> list[dict]:
    """Driver-side collect of a SMALL polygon layer into broadcastable form:
    [{poly_id, tag, rings: [(xs, ys), ...], bbox: (x0,y0,x1,y1)}]."""
    rows = polygons.orderBy("poly_id", "ring_idx").collect()
    out: dict[int, dict] = {}
    for r in rows:
        p = out.setdefault(
            int(r.poly_id), {"poly_id": int(r.poly_id), "tag": r.tag, "rings": []}
        )
        p["rings"].append((np.asarray(r.xs, float), np.asarray(r.ys, float)))
    for p in out.values():
        xs = np.concatenate([r[0] for r in p["rings"]])
        ys = np.concatenate([r[1] for r in p["rings"]])
        p["bbox"] = (xs.min(), ys.min(), xs.max(), ys.max())
    return list(out.values())


def pip_join_broadcast(
    points: DataFrame,
    polygons: DataFrame | list[dict],
    x_col: str = "lon",
    y_col: str = "lat",
    how: str = "inner",
) -> DataFrame:
    """points |><| polygons on contains(poly, point), broadcast strategy.

    Output: points columns + (poly_id, tag); a point inside k polygons
    yields k rows (true join semantics).  how='left' keeps misses with NULL
    poly_id.  Zero shuffles: mapInPandas over the points only.
    """
    polys = polygons if isinstance(polygons, list) else collect_polygons(polygons)
    bboxes = np.array([p["bbox"] for p in polys]) if polys else np.zeros((0, 4))
    out_fields = list(points.schema.fieldNames()) + ["poly_id", "tag"]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in points.schema.fields]
        + ["poly_id long", "tag string"]
    )
    left = how == "left"

    def _match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf[x_col].to_numpy(float)
            py = pdf[y_col].to_numpy(float)
            idx_acc, pid_acc, tag_acc = [], [], []
            matched = np.zeros(len(pdf), dtype=bool)
            if len(polys):
                # flat R-tree: one vectorized bbox mask per polygon
                for p, bb in zip(polys, bboxes):
                    cand = (
                        (px >= bb[0]) & (px <= bb[2]) & (py >= bb[1]) & (py <= bb[3])
                    )
                    if not cand.any():
                        continue
                    ci = np.nonzero(cand)[0]
                    inside = points_in_polygon(px[ci], py[ci], p["rings"])
                    hit = ci[inside]
                    idx_acc.append(hit)
                    pid_acc.append(np.full(len(hit), p["poly_id"], dtype=np.int64))
                    tag_acc.extend([p["tag"]] * len(hit))
                    matched[hit] = True
            idx = np.concatenate(idx_acc) if idx_acc else np.array([], dtype=np.int64)
            pid = np.concatenate(pid_acc) if pid_acc else np.array([], dtype=np.int64)
            out = pdf.iloc[idx].copy()
            out["poly_id"] = pid
            out["tag"] = tag_acc
            if left:
                miss = pdf.iloc[~matched].copy()
                miss["poly_id"] = None
                miss["tag"] = None
                out = pd.concat([out, miss])
            yield out[out_fields]

    return points.mapInPandas(_match, schema)


def _cell_lonlat_bounds(x: np.ndarray, y: np.ndarray, zoom: int):
    n = float(1 << zoom)
    lon0 = x / n * 360.0 - 180.0
    lon1 = (x + 1) / n * 360.0 - 180.0
    lat1 = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n))))
    lat0 = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n))))
    return lon0, lat0, lon1, lat1


def _cell_merc_bounds(x: np.ndarray, y: np.ndarray, zoom: int):
    span = mercator.WORLD / float(1 << zoom)
    mx0 = x * span - mercator.ORIGIN
    mx1 = (x + 1) * span - mercator.ORIGIN
    my1 = mercator.ORIGIN - y * span
    my0 = mercator.ORIGIN - (y + 1) * span
    return mx0, my0, mx1, my1


def _hier_cover_one(
    rings: list[tuple[np.ndarray, np.ndarray]],
    zoom: int,
    coarse_levels: int = 6,
    space: str = "lonlat",
) -> tuple[np.ndarray, np.ndarray]:
    """Hierarchical EXACT cover of one polygon at ``zoom``: (cells,
    interior) arrays.  Quadtree descent from ``zoom - coarse_levels``:
    each frontier cell is classified exactly (center-in-polygon +
    Liang-Barsky boundary-segment test) as outside (dropped — the bbox
    meshgrid emitted these for nothing), INTERIOR (expanded to its 4^dz
    descendants with no further tests; these skip the join-time ray-cast),
    or boundary (split and recursed).  Work is O(perimeter-cells x edges)
    instead of O(bbox-cells x edges) — the continent-at-z10+ fix from
    VERDICT r2 (pip_join.py cover-explosion note).

    ``space`` picks the classification geometry: 'lonlat' (rings in
    degrees — matches the point ray-cast pip_join feeds) or 'merc'
    (rings in EPSG:3857 meters — edges straight in the reference's
    Intersects space, src/main.rs:187-198; used by the DataFrame-layer
    pipeline prune)."""
    e1x = np.concatenate([r[0] for r in rings])
    e1y = np.concatenate([r[1] for r in rings])
    e2x = np.concatenate([np.roll(r[0], -1) for r in rings])
    e2y = np.concatenate([np.roll(r[1], -1) for r in rings])
    z0 = max(zoom - coarse_levels, 0)
    if space == "merc":
        span0 = mercator.WORLD / float(1 << z0)
        tx0 = int((e1x.min() + mercator.ORIGIN) // span0)
        tx1 = int((e1x.max() + mercator.ORIGIN) // span0)
        ty0 = int((mercator.ORIGIN - e1y.max()) // span0)
        ty1 = int((mercator.ORIGIN - e1y.min()) // span0)
        n0 = (1 << z0) - 1
        tx0, tx1 = max(tx0, 0), min(tx1, n0)
        ty0, ty1 = max(ty0, 0), min(ty1, n0)
    else:
        tx0, ty1 = mercator.np_lonlat_to_tile(e1x.min(), e1y.min(), z0)
        tx1, ty0 = mercator.np_lonlat_to_tile(e1x.max(), e1y.max(), z0)
    gx, gy = np.meshgrid(
        np.arange(int(tx0), int(tx1) + 1), np.arange(int(ty0), int(ty1) + 1)
    )
    fx, fy = gx.ravel().astype(np.int64), gy.ravel().astype(np.int64)
    bounds_fn = _cell_merc_bounds if space == "merc" else _cell_lonlat_bounds
    out_c: list[np.ndarray] = []
    out_i: list[np.ndarray] = []
    for z in range(z0, zoom + 1):
        if len(fx) == 0:
            break
        lon0, lat0, lon1, lat1 = bounds_fn(fx, fy, z)
        hit = np.zeros(len(fx), dtype=bool)
        for r0 in range(0, len(fx), 4096):
            sl = slice(r0, r0 + 4096)
            hit[sl] = _segments_hit_rects(
                e1x, e1y, e2x, e2y, lon0[sl], lat0[sl], lon1[sl], lat1[sl]
            )
        inside = points_in_polygon((lon0 + lon1) / 2.0, (lat0 + lat1) / 2.0, rings)
        interior = inside & ~hit
        if interior.any():  # expand straight to the target zoom
            dz = zoom - z
            k = np.int64(1) << dz
            ix, iy = fx[interior], fy[interior]
            cx = (ix[:, None, None] * k + np.arange(k)[None, :, None])
            cy = (iy[:, None, None] * k + np.arange(k)[None, None, :])
            cx, cy = np.broadcast_arrays(cx, cy)
            c = cells.np_cell(zoom, cx.ravel(), cy.ravel())
            out_c.append(c)
            out_i.append(np.ones(len(c), dtype=bool))
        bx, by = fx[hit], fy[hit]
        if z == zoom:
            c = cells.np_cell(zoom, bx, by)
            out_c.append(c)
            out_i.append(np.zeros(len(c), dtype=bool))
            break
        fx = np.repeat(bx * 2, 4) + np.tile(np.array([0, 1, 0, 1]), len(bx))
        fy = np.repeat(by * 2, 4) + np.tile(np.array([0, 0, 1, 1]), len(by))
    if not out_c:
        return np.array([], dtype=np.int64), np.array([], dtype=bool)
    return np.concatenate(out_c), np.concatenate(out_i)


def polygon_covering_cells(
    polygons: DataFrame, zoom: int, space: str = "lonlat"
) -> DataFrame:
    """Explode each polygon to EXACTLY the cells (at ``zoom``) it
    intersects — the P1 tile-coverage generator (src/main.rs:173-181)
    upgraded from a bbox meshgrid to a hierarchical quadtree cover (see
    _hier_cover_one).  Output: (poly_id, cell, interior); ``interior``
    rows are fully inside the polygon, so the join-time exact ray-cast
    can be skipped for their matches.  ``space='merc'`` reprojects each
    polygon's lon/lat rings to EPSG:3857 inside its group and classifies
    there (the reference's Intersects space)."""

    def _cover(pdf: pd.DataFrame) -> pd.DataFrame:
        # geojson imports this module
        from freemap_tiler_spark.sources.geojson import reproject_rings_3857

        pids, ccells, ints = [], [], []
        for pid, g in pdf.groupby("poly_id"):
            g = g.sort_values("ring_idx")
            rings = [
                (np.asarray(x, float), np.asarray(y, float))
                for x, y in zip(g["xs"], g["ys"])
            ]
            if space == "merc":
                rings = reproject_rings_3857(rings)
            c, inter = _hier_cover_one(rings, zoom, space=space)
            pids.append(np.full(len(c), pid, dtype=np.int64))
            ccells.append(c)
            ints.append(inter)
        if not pids:
            return pd.DataFrame(
                {"poly_id": pd.array([], dtype="int64"),
                 "cell": pd.array([], dtype="int64"),
                 "interior": pd.array([], dtype="bool")}
            )
        return pd.DataFrame(
            {"poly_id": np.concatenate(pids), "cell": np.concatenate(ccells),
             "interior": np.concatenate(ints)}
        )

    return polygons.groupBy("poly_id").applyInPandas(
        lambda _k, pdf: _cover(pdf), "poly_id long, cell long, interior boolean"
    )


def pip_join_cells(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 10,
    x_col: str = "lon",
    y_col: str = "lat",
    salt: int | None = None,
) -> DataFrame:
    """Cell-prefix repartition join for LARGE polygon layers.

    points -> cell (Column math) ; polygons -> covering cells (explode) ;
    equi-join on cell ; exact ray-cast on the joined candidates.  The
    equi-join is a plain shuffle join Catalyst/AQE can optimize (skew split,
    broadcast if the exploded layer turns out small).

    ``salt=s`` adds EXPLICIT hot-cell salting (the north-star's dense-urban
    -tiles case): each point also carries a deterministic salt in [0, s),
    the covering-cell side is replicated s times, and the join key becomes
    (cell, salt) — one hot cell's candidates spread over s reducers even
    without AQE.  Result identical by construction.

    The rings are never force-broadcast: this function's use case is the
    layer too large for the broadcast prune, so they reach boundary
    candidates through a plain equi-join on poly_id that Catalyst/AQE may
    still convert when the layer turns out small; interior-cell rows never
    touch the rings at all (their covering cell was proven fully inside).
    """
    pts = points.withColumn(
        "cell",
        cells.cell(
            F.lit(zoom),
            mercator.tile_x(F.col(x_col), F.lit(zoom)),
            mercator.tile_y(F.col(y_col), F.lit(zoom)),
        ),
    )
    cover = polygon_covering_cells(polygons, zoom)
    if salt and salt > 1:
        pts = pts.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(x_col), F.col(y_col)), F.lit(salt)).cast("int"),
        )
        cover = cover.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        matched = pts.join(cover, ["cell", "_salt"]).drop("cell", "_salt")
    else:
        matched = pts.join(cover, "cell").drop("cell")
    # Still ONE consumer of the points x cover join (ADVICE r3 #3: an
    # interior/boundary split that consumed `matched` twice forced a
    # persist that stayed pinned in executor storage while callers held
    # the result).  Instead of splitting, the rings attach through a LEFT
    # equi-join whose key is poly_id for boundary rows only: interior
    # rows get a non-matching negative sentinel, SPREAD by a point hash —
    # a constant null/sentinel key would funnel every interior row into
    # one reducer of the rings join.  Interior rows arrive at the kernel
    # with null ring arrays and pass through untouched (the quadtree
    # cover proved those cells fully inside; src/main.rs:187-198
    # semantics); only the per-polygon tag dim — one tiny row per polygon
    # — is broadcast to all rows.
    tags = polygons.groupBy("poly_id").agg(F.first("tag").alias("tag"))
    rings = polygons.orderBy("ring_idx").groupBy("poly_id").agg(
        F.collect_list("xs").alias("all_xs"),
        F.collect_list("ys").alias("all_ys"),
    ).withColumnRenamed("poly_id", "_rpid")
    cand = (
        matched.join(F.broadcast(tags), "poly_id")
        .withColumn(
            "_rpid",
            F.when(~F.col("interior"), F.col("poly_id")).otherwise(
                -1 - F.pmod(F.xxhash64(x_col, y_col), F.lit(1 << 20))
            ),
        )
        .join(rings, "_rpid", "left")
        .drop("_rpid")
    )
    return _pip_exact_raycast(cand, points, x_col, y_col)


def _pip_exact_raycast(
    cand: DataFrame, points: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Exact even-odd verify over (point x candidate-polygon) rows.  When
    ``cand`` carries an ``interior`` column, True rows are kept without a
    ray-cast (their covering cell was proven fully inside)."""
    out_cols = list(points.schema.fieldNames()) + ["poly_id", "tag"]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in points.schema.fields]
        + ["poly_id long", "tag string"]
    )
    has_interior = "interior" in cand.columns

    def _exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf.reindex(columns=out_cols)
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            if has_interior:
                keep |= pdf["interior"].to_numpy(bool)
            px = pdf[x_col].to_numpy(float)
            py = pdf[y_col].to_numpy(float)
            # vectorized per polygon: all boundary candidates of one
            # polygon in a single ray-cast batch
            todo = pdf if not has_interior else pdf.loc[~keep]
            for pid, g in todo.groupby("poly_id", sort=False):
                first = g.iloc[0]
                poly_rings = [
                    (np.asarray(xs, float), np.asarray(ys, float))
                    for xs, ys in zip(first["all_xs"], first["all_ys"])
                ]
                ci = g.index.to_numpy()
                pos = pdf.index.get_indexer(ci)
                keep[pos] = points_in_polygon(px[pos], py[pos], poly_rings)
            yield pdf.loc[keep, out_cols]

    return cand.mapInPandas(_exact, schema)
