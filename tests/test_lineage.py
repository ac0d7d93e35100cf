"""Resume semantics: kill/resume byte-identity (SURVEY §5.3d)."""

import glob
import os
import shutil
import tempfile
from collections import Counter

import pyarrow.parquet as pq
import pytest

from freemap_tiler_spark.contract import _docs_geo
from freemap_tiler_spark.operators import pyramid as P
from freemap_tiler_spark.plans import fsutil
from freemap_tiler_spark.plans import lineage as L

pytestmark = pytest.mark.spark


def _leaves(spark, sf_dir, z=5, t=32, where="true"):
    g = _docs_geo(spark, sf_dir).where(where)
    return P.rasterize_level(P.assign_cells(g, "lon", "lat", z), t)


def _payloads(spark, root):
    return {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}


def test_write_then_resume_noop(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="pyr_")
    try:
        leaves = _leaves(spark, sf_dir)
        first = L.write_pyramid(spark, leaves, root, 5, 0, 32)
        assert set(first) == set(range(6))
        # second run: everything committed -> only reads, same counts
        second = L.write_pyramid(spark, leaves, root, 5, 0, 32)
        assert second[5] == first[5]
        lin = L.read_lineage(spark, root)
        assert lin.where("status = 'committed'").count() >= 6
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crash_resume_byte_identical(spark, sf_dir):
    """A kill mid-level-4 resumes to the uninterrupted pyramid: level 5 is
    committed, level 4 is half-written (its directory stays, some of its
    part files are gone), levels 0-3 are missing, and levels 0-4 have no
    lineage.  Resume rewrites level 4 by overwrite."""
    root = tempfile.mkdtemp(prefix="pyr_")
    try:
        leaves = _leaves(spark, sf_dir)
        L.write_pyramid(spark, leaves, root, 5, 0, 32)
        full1 = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}
        lin = L.read_lineage(spark, root).where("level = 5").collect()
        shutil.rmtree(f"{root}/_lineage")
        spark.createDataFrame(lin, L.LINEAGE_SCHEMA).write.parquet(f"{root}/_lineage")
        n4 = L.read_level(spark, root, 4).count()
        files = glob.glob(f"{L.level_path(root, 4)}/part-*.parquet")
        holding = sorted(f for f in files if pq.read_metadata(f).num_rows)
        for f in holding[::2]:
            os.remove(f)
        assert len(holding[::2]) < len(files)  # some part files stay
        assert L.read_level(spark, root, 4).count() < n4
        for z in range(0, 4):
            shutil.rmtree(L.level_path(root, z))
        out = L.write_pyramid(spark, leaves, root, 5, 0, 32)
        assert set(out) == set(range(6))
        # committed level 5 was NOT recommitted (one summary row each);
        # only the crashed levels 0-4 gained fresh commits
        lin_df = L.read_lineage(spark, root)
        summaries = lin_df.where("partition = -1").groupBy("level").count().collect()
        assert {r["level"]: r["count"] for r in summaries} == {z: 1 for z in range(6)}
        # per-partition lineage rows sum to the level summary (the tile-range
        # watermark + row-count checkpoint per parquet split)
        import pyspark.sql.functions as SF
        parts = lin_df.where("partition >= 0").groupBy("level").agg(
            SF.sum("row_count").alias("n")).collect()
        sums = {r["level"]: r["n"] for r in parts}
        for r in lin_df.where("partition = -1").collect():
            assert sums[r["level"]] == r["row_count"]
        full2 = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}
        assert full1 == full2
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_killed_rebuild_resumes_to_the_new_leaves(spark, sf_dir):
    """A resume=False rebuild from new leaves, killed part-way and then
    resumed, equals a fresh build of the new leaves: the earlier run's
    committed levels must not be skipped as if this run had written them."""
    old = _leaves(spark, sf_dir)
    new = _leaves(spark, sf_dir, where="doc_id % 2 = 0")
    root = tempfile.mkdtemp(prefix="pyr_")
    fresh = tempfile.mkdtemp(prefix="pyr_fresh_")

    def kill_at_3(level, _written):
        if level == 3:
            raise RuntimeError("killed at level 3")

    try:
        L.write_pyramid(spark, old, root, 5, 0, 32)
        before = _payloads(spark, root)
        with pytest.raises(RuntimeError, match="killed at level 3"):
            L.write_pyramid(spark, new, root, 5, 0, 32, resume=False,
                            on_level=kill_at_3)
        L.write_pyramid(spark, new, root, 5, 0, 32)
        L.write_pyramid(spark, new, fresh, 5, 0, 32)
        want = _payloads(spark, fresh)
        assert before != want  # every level differs between the two leaf sets
        assert _payloads(spark, root) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(fresh, ignore_errors=True)


def test_write_pyramid_rounds_equal_compose_pyramid(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """write_pyramid's round loop (one compose_round per pass, its depth
    from the count level z committed) writes the pyramid compose_pyramid
    builds from the same leaves, byte for byte, over several rounds."""
    ks = []
    real = P.compose_round

    def record(current, k, tile_size, bands):
        ks.append(k)
        return real(current, k, tile_size, bands)

    monkeypatch.setattr(P, "compose_round", record)
    root = str(tmp_path / "pyr")
    L.write_pyramid(spark, _leaves(spark, sf_dir, z=12), root, 12, 3, 32)
    assert len(ks) > 1 and sum(ks) == 9
    monkeypatch.setattr(P, "compose_round", real)
    composed = P.compose_pyramid(L.read_level(spark, root, 12), 12, 3, 32, 2)
    assert _payloads(spark, root) == {
        r.cell: bytes(r.payload) for r in composed.collect()}


def test_empty_leaves_commit_every_level(spark, sf_dir, tmp_path):
    """Empty leaves commit every level with 0 rows (round_depth at n = 0
    composes them in one round), and the resume writes nothing."""
    root = str(tmp_path / "empty")
    leaves = _leaves(spark, sf_dir, where="false")
    zeros = {z: 0 for z in range(6)}
    assert L.write_pyramid(spark, leaves, root, 5, 0, 32) == zeros
    assert L.committed_levels(spark, root) == zeros
    written = []
    resumed = L.write_pyramid(spark, leaves, root, 5, 0, 32,
                              on_level=lambda z, _df: written.append(z))
    assert resumed == zeros and written == []


def test_resume_anti_join(spark, sf_dir):
    g = _docs_geo(spark, sf_dir)
    pending = P.assign_cells(g, "lon", "lat", 5).select("cell").distinct()
    done = pending.limit(3)
    remaining = L.resume_anti_join(pending, done)
    assert remaining.count() == pending.count() - 3


def test_write_rows_one_file_per_call(spark, tmp_path):
    """Each write_rows call adds one parquet file: the lineage, metrics and
    progress tables grow a few rows per append and are listed on every
    resume.  The rows read back as written, NULL longs included."""
    path = str(tmp_path / "rows")
    ddl = "level int, row_count long, status string"
    batches = [
        [(1, None, "committed"), (2, 3, "slice")],
        [(4, 5, None)],
        [(6, -1, "committed")] * 5,
    ]
    for n, rows in enumerate(batches, 1):
        fsutil.write_rows(spark, rows, ddl, path, "append")
        assert len(glob.glob(f"{path}/part-*.parquet")) == n
    back = spark.read.parquet(path)
    assert back.schema.simpleString() == "struct<level:int,row_count:bigint,status:string>"
    assert Counter(tuple(r) for r in back.collect()) == Counter(
        r for rows in batches for r in rows)
