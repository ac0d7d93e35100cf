"""Incremental pyramid maintenance (micro-batch, lineage-driven).

New corpus rows arrive (a new WARC drop); only the leaf tiles they touch —
and those tiles' ancestor chains — need recomputation.  This is the
reference's resume path (src/processor.rs:136-224) turned into an
incremental-view-maintenance job:

1. rasterize ONLY the new points' leaf tiles, merging with the stored
   leaf payloads for those cells (add counts, or recompute from the unioned
   point set — we recompute: counts aren't mergeable once clipped to u8);
2. the dirty set at level z-1 = distinct parents of dirty level-z cells —
   the ancestor closure A5 (src/main.rs:208-229), now restricted to the
   dirty subset;
3. per level: recompute dirty parents from their (4) children — the stored
   clean siblings are read back via a semi-join — and overwrite only those
   rows (copy-on-write per level, committed to lineage);
4. compact ``_lineage`` to each level's latest commit row, so a root that
   takes update after update still reads one lineage file.

Cost is O(dirty leaves * depth), not O(pyramid) — the property that makes
daily 100 TB corpus refreshes feasible.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells
from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans import fsutil
from freemap_tiler_spark.plans import lineage as L


def _aside_paths(final: str) -> tuple[str, str]:
    """Staging/old siblings of a level dir, underscore-prefixed so Spark's
    partition discovery over {root}/tiles ignores them if a crash leaves
    them behind."""
    d, b = os.path.split(final)
    return os.path.join(d, f"_{b}.staging"), os.path.join(d, f"_{b}.old")


def _recover_swap(spark: SparkSession, final: str) -> None:
    """Heal a crash inside ``_swap_commit``: if the live dir is missing,
    promote a COMPLETE staging dir (_SUCCESS present) or restore the
    renamed-aside old version — every crash point leaves one of the two
    readable."""
    staging, old = _aside_paths(final)
    if fsutil.fs_exists(spark, final):
        fsutil.fs_delete(spark, staging)
        fsutil.fs_delete(spark, old)
        return
    if fsutil.fs_exists(spark, staging + "/_SUCCESS"):
        fsutil.fs_rename(spark, staging, final)
        fsutil.fs_delete(spark, old)
    elif fsutil.fs_exists(spark, old):
        fsutil.fs_rename(spark, old, final)
        fsutil.fs_delete(spark, staging)


def _swap_commit(spark: SparkSession, final: str) -> None:
    """Promote {final}.staging over {final} via TWO renames (old version
    set aside first, removed last) through the Hadoop FS API — atomic on
    HDFS/local, and never a window where the level directory is simply
    gone (the round-2 rmtree+os.rename swap was local-only and a crash
    between the two calls lost the live dir while lineage still marked
    the level committed)."""
    staging, old = _aside_paths(final)
    fsutil.fs_delete(spark, old)
    if fsutil.fs_exists(spark, final):
        fsutil.fs_rename(spark, final, old)
    fsutil.fs_rename(spark, staging, final)
    fsutil.fs_delete(spark, old)


def incremental_update(
    spark: SparkSession,
    all_points: DataFrame,
    new_points: DataFrame,
    root: str,
    max_zoom: int,
    min_zoom: int = 0,
    tile_size: int = 256,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> dict:
    """Recompute only the tiles affected by ``new_points``.

    ``all_points`` must already include the new rows (leaf tiles are
    recomputed from the full point set of each dirty cell).  Returns
    {level: dirty_tile_count}."""
    dirty = (
        P.assign_cells(new_points, lon_col, lat_col, max_zoom)
        .select("cell")
        .distinct()
    )
    assigned = P.assign_cells(all_points, lon_col, lat_col, max_zoom)
    dirty_leaf_points = assigned.join(dirty, "cell", "left_semi")
    new_leaves = P.rasterize_level(dirty_leaf_points, tile_size)

    out: dict[int, int] = {}
    current_dirty = new_leaves  # (cell, payload) freshly recomputed
    retired = None  # the dirty set whose last consumer ran last iteration
    for z in range(max_zoom, min_zoom - 1, -1):
        t0 = time.time()
        # the dirty set feeds both sides of this level's merge write and
        # the next level's parent set: unpersisted, its rasterize/compose
        # UDF would run once per consumer
        current_dirty = current_dirty.persist(StorageLevel.MEMORY_AND_DISK)
        final = L.level_path(root, z)
        _recover_swap(spark, final)
        # each read-back names its schema: no footer-inference job
        stored = L.read_level(spark, root, z)
        dirty_cells = current_dirty.select("cell").distinct()
        # one row per dirty cell: the write observes the dirty count too,
        # so counting it runs no job of its own
        dirty_obs = Observation()
        merged = stored.join(dirty_cells, "cell", "left_anti").unionByName(
            current_dirty.observe(dirty_obs, F.count(F.lit(1)).alias("n"))
        )
        # write ONCE to a staging dir, then promote with the two-rename
        # swap (old set aside, never a missing-live-dir window; Hadoop FS
        # so HDFS/S3 roots work); the swap is the commit point, recorded
        # in lineage so a crash between swap and commit is detectable.
        # the commit row is observed on the staging write itself, so the
        # level is not re-read after the swap
        merged, obs = L._observe(merged, z)
        merged.write.mode("overwrite").parquet(_aside_paths(final)[0])
        out[z] = dirty_obs.get["n"]
        _swap_commit(spark, final)
        L._commit_level(spark, root, z, obs, time.time() - t0)
        # this dirty set still backs parent_cells below (it executes at
        # the NEXT level's write) — retire it one iteration later
        if retired is not None:
            retired.unpersist()
        retired = current_dirty
        if z == min_zoom:
            retired.unpersist()
            break
        # recompute dirty parents from stored children (clean siblings
        # read back via semi-join on parent)
        parent_cells = dirty_cells.select(cells.parent("cell").alias("pcell")).distinct()
        level_full = L.read_level(spark, root, z)
        kids = level_full.join(
            parent_cells,
            cells.parent(level_full["cell"]) == parent_cells["pcell"],
            "left_semi",
        )
        current_dirty = P.compose_round(kids, 1, tile_size, 2)
    L.compact_lineage(spark, root)
    return out
