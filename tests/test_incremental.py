"""Incremental pyramid maintenance: dirty-subtree recompute equals full rebuild."""

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.contract import _docs_geo
from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans import fsutil
from freemap_tiler_spark.plans import lineage as L
from freemap_tiler_spark.streaming import incremental_update
from oracles import read_pyramid

pytestmark = pytest.mark.spark


def test_incremental_equals_full_rebuild(spark, sf_dir):
    g = _docs_geo(spark, sf_dir).cache()
    old = g.where("doc_id % 7 != 0")
    new = g.where("doc_id % 7 = 0")
    root = tempfile.mkdtemp(prefix="incr_")
    root_full = tempfile.mkdtemp(prefix="full_")
    try:
        # initial pyramid from the old corpus
        leaves_old = P.rasterize_level(P.assign_cells(old, "lon", "lat", 5), 32)
        L.write_pyramid(spark, leaves_old, root, 5, 0, 32)
        # incremental update with the new rows
        dirty = incremental_update(spark, g, new, root, 5, 0, 32)
        assert dirty[5] > 0
        got = {r.cell: bytes(r.payload) for r in read_pyramid(spark, root).collect()}
        # oracle: full rebuild from the complete corpus
        leaves_all = P.rasterize_level(P.assign_cells(g, "lon", "lat", 5), 32)
        L.write_pyramid(spark, leaves_all, root_full, 5, 0, 32)
        exp = {r.cell: bytes(r.payload) for r in read_pyramid(spark, root_full).collect()}
        assert got == exp

        # each level's latest commit row, observed on its staging write,
        # describes the updated level as the full rebuild's describes it
        def commits(r):
            return {z: {k: v for k, v in row.items() if k != "seconds"}
                    for z, row in L.committed_rows(spark, r).items()}

        assert commits(root) == commits(root_full)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root_full, ignore_errors=True)


def test_incremental_composes_each_dirty_parent_once(spark, sf_dir, monkeypatch):
    """Every level's compose UDF runs once per dirty parent: the dirty set
    feeds the merge write, its count and the next level's parent set, and
    none of those re-runs it.  Nothing stays cached afterwards."""
    calls = spark.sparkContext.accumulator(0)
    compose = P._compose_subtree

    def counting_compose(tiles, k, tile_size, bands):
        calls.add(1)
        return compose(tiles, k, tile_size, bands)

    g = _docs_geo(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="incr_once_")
    try:
        old = g.where("doc_id % 7 != 0")
        leaves = P.rasterize_level(P.assign_cells(old, "lon", "lat", 5), 32)
        L.write_pyramid(spark, leaves, root, 5, 0, 32)
        cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        monkeypatch.setattr(P, "_compose_subtree", counting_compose)
        dirty = incremental_update(spark, g, g.where("doc_id % 7 = 0"), root, 5, 0, 32)
        # one compose group per dirty cell of the level it produces
        assert calls.value == sum(dirty[z] for z in range(5))
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_update_job_budget(spark, sf_dir):
    """Spark jobs per incremental_update call, counted by the status
    tracker, on the scenario of test_incremental_equals_full_rebuild.
    Every level read-back names its schema, so none runs a
    footer-inference job: 92-94 jobs when three reads per level inferred
    it, 74-78 since, 57-60 once each level's commit row was observed on
    its staging write and the lineage rows were written by the driver,
    43-45 once the dirty count was observed on that write too (AQE's
    stage submission varies the count by a few jobs from run to run)."""
    sc = spark.sparkContext
    g = _docs_geo(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="incr_jobs_")
    try:
        leaves = P.rasterize_level(
            P.assign_cells(g.where("doc_id % 7 != 0"), "lon", "lat", 5), 32)
        L.write_pyramid(spark, leaves, root, 5, 0, 32)
        sc.setJobGroup("incremental_budget", "incremental job budget")
        incremental_update(spark, g, g.where("doc_id % 7 = 0"), root, 5, 0, 32)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(root, ignore_errors=True)
    jobs = sc.statusTracker().getJobIdsForGroup("incremental_budget")
    assert len(jobs) <= 50, f"incremental_update ran {len(jobs)} Spark jobs"


def test_swap_commit_recovery_states(spark, tmp_path):
    """Every crash point of the two-rename swap leaves a readable level:
    live present, or complete staging, or the set-aside old version."""
    from freemap_tiler_spark.streaming.incremental import (
        _aside_paths, _recover_swap, _swap_commit,
    )

    final = str(tmp_path / "zoom=3")
    staging, old = _aside_paths(final)
    spark.range(5).write.parquet(final)
    spark.range(9).write.parquet(staging)
    # normal promote: staging becomes live, old cleaned
    _swap_commit(spark, final)
    assert spark.read.parquet(final).count() == 9
    import os
    assert not os.path.exists(staging) and not os.path.exists(old)
    # crash after final->old, before staging->final: live missing
    spark.range(11).write.parquet(staging)
    os.rename(final, old)
    _recover_swap(spark, final)
    assert spark.read.parquet(final).count() == 11  # staging was complete
    # crash with INCOMPLETE staging (no _SUCCESS): old is restored
    os.makedirs(staging)
    open(os.path.join(staging, "part-00000.parquet"), "wb").close()
    os.rename(final, old)
    _recover_swap(spark, final)
    assert spark.read.parquet(final).count() == 11
    assert not os.path.exists(staging)
    # staging/old leftovers next to a healthy live dir are swept
    spark.range(2).write.parquet(staging)
    _recover_swap(spark, final)
    assert not os.path.exists(staging)
    assert spark.read.parquet(final).count() == 11


def test_repeated_updates_keep_one_lineage_file(spark, sf_dir, monkeypatch):
    """Three updates on one root leave ONE ``_lineage`` file, and its
    commit rows are the latest of every row appended to it, as an
    uncompacted lineage would read."""
    lin_files = []
    appended = []
    write_rows = fsutil.write_rows

    def recording(spark, rows, ddl, path, mode):
        if path.endswith("_lineage") and mode == "append":
            appended.extend(rows)
        write_rows(spark, rows, ddl, path, mode)

    monkeypatch.setattr(fsutil, "write_rows", recording)
    g = _docs_geo(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="incr_compact_")
    try:
        pts = g.where("doc_id % 4 != 0")
        L.write_pyramid(spark, P.rasterize_level(
            P.assign_cells(pts, "lon", "lat", 4), 16), root, 4, 0, 16)
        for k in range(3):
            new = g.where(f"doc_id % 12 = {4 * k}")
            pts = pts.unionByName(new)
            incremental_update(spark, pts, new, root, 4, 0, 16)
            lin_files.append(len(glob.glob(f"{root}/_lineage/part-*.parquet")))
        uncompacted = {r[0]: r for r in appended if r[-1] == "committed"}
        compacted = {z: tuple(r.values())
                     for z, r in L.committed_rows(spark, root).items()}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert lin_files == [1, 1, 1]
    assert len(appended) == 5 * 4  # the initial write and three updates
    assert compacted == uncompacted
