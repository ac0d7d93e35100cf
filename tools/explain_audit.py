"""Plan-quality audit: .explain("formatted") on headline queries, asserting
the physical properties the engine is designed around.

Checks (written to BENCH/explain_audit.md):
- parquet scans show PushedFilters / pruned ReadSchema (never read `html`
  for text-only queries);
- broadcast joins are actually broadcast (BroadcastHashJoin);
- tile algebra stays inside WholeStageCodegen (no Python in key paths);
- partition pruning on the zoom-partitioned store (PartitionFilters);
- spatial joins (kNN, PIP cells, the polygon prune) and the dedup joins
  are equi- or semi-joins on their key, never a cartesian product;
- one pyramid compose round is one Python group stage with no Union.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from freemap_tiler_spark import contract  # noqa: E402
from freemap_tiler_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    report = ["# Explain audit\n"]
    failures = []

    def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):
        ok = all(m in plan for m in must) and not any(m in plan for m in must_not)
        line = f"- **{name}**: {'OK' if ok else 'FAIL'} (must={must}, must_not={list(must_not)})"
        report.append(line)
        if not ok:
            failures.append(name)
            report.append("```\n" + plan[:4000] + "\n```")

    # 1. text query never reads html; filter pushed down
    q = contract.q_token_count(spark, sf)
    p = plan_of(q)
    check("token_count: html pruned from scan", p, ["ReadSchema"], ["html"])

    # 2. broadcast dim join is a BroadcastHashJoin
    p = plan_of(contract.q_broadcast_join_agg(spark, sf))
    check("broadcast_join_agg: broadcast hash join", p, ["BroadcastHashJoin"])

    # 3. anti join present as such
    p = plan_of(contract.q_resume_anti_join(spark, sf))
    check("resume_anti_join: LeftAnti", p, ["LeftAnti"])

    # 4. tile assignment is pure JVM expressions — no Python eval nodes
    p = plan_of(contract.q_tile_assign(spark, sf))
    check("tile_assign: no python eval in plan", p, ["Project"],
          ["BatchEvalPython", "ArrowEvalPython"])

    # 5. doc-filtered query pushes the predicate into the scan
    from freemap_tiler_spark.sources.tables import load_table
    d = load_table(spark, sf, "documents").where(F.col("doc_id") % 50 == 0).select("doc_id")
    p = plan_of(d)
    check("filtered scan: PushedFilters present", p, ["PushedFilters"])

    # 6. store read with zoom predicate -> partition filters
    import shutil
    import tempfile

    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import store
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks

    root = tempfile.mkdtemp(prefix="audit_")
    try:
        blocks = raster_blocks(spark, grid=2, width=64, height=64, bands=4)
        run_tiler(spark, blocks, root, max_zoom=9, min_zoom=7, tile_size=32,
                  resume=False)
        p = plan_of(store.read_tiles(spark, root).where(F.col("zoom") == 8))
        check("store read: partition pruning on zoom", p, ["PartitionFilters"])

        # 6b. one compose round over a written level is ONE Python group
        # stage and carries no Union: the level it reads is not re-read
        # into its output only to be filtered back out
        from freemap_tiler_spark.operators import pyramid as P
        from freemap_tiler_spark.plans import lineage as L

        tree = (
            P.compose_round(L.read_level(spark, root, 9), 2, 32, 4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n_groups = tree.count("FlatMapGroupsInPandas")
        check("compose_round: one FlatMapGroupsInPandas, no Union",
              tree if n_groups == 1 else f"{n_groups} x FlatMapGroupsInPandas",
              ["FlatMapGroupsInPandas"], ["Union", " x FlatMapGroupsInPandas"])
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # 7. production grid kNN: equi-join on the neighborhood cell, never a
    # cartesian product (the brute twin is the only allowed crossJoin)
    p = plan_of(contract.q_knn_grid(spark, sf))
    check("knn_grid: cell equi-join, no cartesian", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 8. cell-prefix PIP join: equi-join, no cartesian
    p = plan_of(contract.q_pip_join_cells(spark, sf))
    check("pip_join_cells: cell equi-join, no cartesian", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 8b. layer mode (VERDICT r4 #3): the per-polygon ring arrays reach
    # boundary candidates through a plain equi-join on the conditional
    # _rpid key — never a forced broadcast of the whole rings table.
    # The tree string (keys on the operator line) is needed here; the
    # formatted explain separates keys from the operator name.  The
    # threshold is dropped for the check: at sf0.001 Catalyst would
    # legitimately auto-broadcast the tiny rings — the invariant under
    # test is that no FORCED broadcast hint survives a large layer.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        tree = (
            contract.q_pip_join_cells(spark, sf)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    bad_rings = [
        line for line in tree.splitlines()
        if "BroadcastHashJoin" in line and "_rpid" in line
    ]
    check("pip_join_cells: rings join is NOT broadcast (layer mode)",
          "_rpid" if not bad_rings else "BROADCAST_RINGS", ["_rpid"],
          ["BROADCAST_RINGS"])

    # 8c. polygon prune: the tile cover semi-joins the polygons' quadtree
    # cell set on `cell` — the cover is one range, so the plan has no
    # cartesian product and no nested-loop join anywhere; the rings are
    # reprojected inside the cover's group function, so the only Python
    # stage is that one (no MapInPandas before it)
    p = plan_of(contract.q_polygon_prune_both(spark, sf))
    check("polygon_prune: cell semi-join, no cartesian, no MapInPandas", p,
          ["Join type: LeftSemi", "Left keys [1]: [cell#"],
          ["CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas"])

    # 9. embedding near-dups: bucketed self-join stays an equi-join on
    # (tbl, bkt) — the id inequality is a post-filter, not a join driver
    p = plan_of(contract.q_embedding_near_dups(spark, sf))
    check("embedding_near_dups: bucket equi-join, no cartesian", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 10. LSH dedup: band/bucket equi-join, no cartesian
    p = plan_of(contract.q_minhash_lsh_dedup(spark, sf))
    check("minhash_lsh_dedup: bucket equi-join, no cartesian", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 11. SRP ANN: id-only bucket rows into the candidate join (r4) — the
    # raw embedding never enters a shuffle exchange; candidate-id joins
    # broadcast; no cartesian anywhere
    from freemap_tiler_spark.operators import similarity as _sim
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    p = plan_of(_sim.ann_topk(pr, e, dim=64, k=5, n_planes=6, n_tables=4,
                              multiprobe=1))
    check("ann_topk: broadcast candidate re-attach, no cartesian", p,
          ["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 12. ExactSubstr scrub (r5): window-hash equi-joins only, and the
    # whole span-detect + text-rebuild pipeline stays JVM-side (higher-
    # order functions, no Python eval)
    from freemap_tiler_spark.operators import dedup as _dd
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    p = plan_of(_dd.scrub_spans(docs))
    check("scrub_spans: hash equi-joins, JVM-only rebuild", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
           "ArrowEvalPython"])

    # 13. Contamination (r5): semi-join on the hash, JVM-only
    test_side = docs.where(F.col("doc_id") % 97 == 0)
    p = plan_of(_dd.contamination(docs, test_side))
    check("contamination: hash semi-join, JVM-only", p, ["Join"],
          ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
           "ArrowEvalPython"])

    # 14. Sequence packing (r5): the two-level cumsum must NOT put the
    # corpus through a single-partition global window — the only
    # non-bucketed sort is over the tiny bucket-sums table; no Python
    from freemap_tiler_spark.operators import packing as _pk
    p = plan_of(_pk.pack_summary(docs, 2048))
    check("pack_summary: bucketed windows, JVM-only", p, ["Window"],
          ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"])

    # 15. VRT ingestion (r5-cont): per-file fan-out is one mapInPandas
    # over the tiny file manifest — one repartition of the manifest
    # (file-count rows), then no further shuffle and no join
    import os as _os
    import tempfile as _tf

    import numpy as _np

    from freemap_tiler_spark.sources import geotiff as _gt
    from freemap_tiler_spark.sources import vrt as _vrt
    vtmp = _tf.mkdtemp(prefix="audit_vrt_")
    img = _np.zeros((64, 64, 3), _np.uint8)
    _gt.write_geotiff(_os.path.join(vtmp, "a.tif"), img, None, tile=(64, 64))
    with open(_os.path.join(vtmp, "m.vrt"), "w") as fh:
        fh.write(
            '<VRTDataset rasterXSize="64" rasterYSize="64">'
            "<SRS>EPSG:3857</SRS>"
            "<GeoTransform>0, 100, 0, 0, 0, -100</GeoTransform>"
            '<VRTRasterBand dataType="Byte" band="1"><SimpleSource>'
            '<SourceFilename relativeToVRT="1">a.tif</SourceFilename>'
            "<SourceBand>1</SourceBand>"
            '<SrcRect xOff="0" yOff="0" xSize="64" ySize="64" />'
            '<DstRect xOff="0" yOff="0" xSize="64" ySize="64" />'
            "</SimpleSource></VRTRasterBand></VRTDataset>"
        )
    p = plan_of(_vrt.vrt_blocks(spark, _os.path.join(vtmp, "m.vrt")))
    check("vrt_blocks: manifest fan-out only, no join", p,
          ["MapInPandas"],
          ["Join", "CartesianProduct"])

    # 16. as-of + range legs (r5-cont): the compound window query must
    # contain NO nested-loop/cartesian join — the as-of is a window pass
    # and the range join is a bucketed hash equi-join
    p = plan_of(contract.q_window_topk_asof(spark, sf))
    check("window compound: asof window + bucketed range, no BNLJ", p,
          ["Window", "Join"],
          ["BroadcastNestedLoopJoin", "CartesianProduct"])

    report.append(f"\nFAILURES: {failures or 'none'}")
    out = "\n".join(report)
    with open("BENCH/explain_audit.md", "w") as f:
        f.write(out)
    print(out)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
