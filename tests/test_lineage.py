"""Resume semantics: kill/resume byte-identity (SURVEY §5.3d)."""

import glob
import shutil
import tempfile
from collections import Counter

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
    root = tempfile.mkdtemp(prefix="pyr_")
    try:
        leaves = _leaves(spark, sf_dir)
        L.write_pyramid(spark, leaves, root, 5, 0, 32)
        full1 = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}
        # simulate crash after level 3: drop levels 0-2 and their lineage
        lin = L.read_lineage(spark, root).where("level >= 3").toPandas()
        shutil.rmtree(f"{root}/_lineage")
        spark.createDataFrame(lin).write.mode("overwrite").parquet(f"{root}/_lineage")
        for z in range(0, 3):
            shutil.rmtree(L.level_path(root, z))
        out = L.write_pyramid(spark, leaves, root, 5, 0, 32)
        assert set(out) == set(range(6))
        # committed levels 3-5 were NOT recommitted (one summary row each);
        # only the crashed levels 0-2 gained fresh commits
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


def test_resume_anti_join(spark, sf_dir):
    g = _docs_geo(spark, sf_dir)
    pending = P.assign_cells(g, "lon", "lat", 5).select("cell").distinct()
    done = pending.limit(3)
    remaining = L.resume_anti_join(pending, done)
    assert remaining.count() == pending.count() - 3


def test_mid_level_slice_resume_byte_identical(spark, sf_dir):
    """Kill half-way through a level: resume writes ONLY the missing
    slices (committed slice watermarks are reused, their lineage rows are
    not re-appended) and the store is byte-identical to an uninterrupted
    run (VERDICT r2 next-round #4)."""
    import os

    from pyspark.sql import functions as SF

    root = tempfile.mkdtemp(prefix="pyr_slice_")
    try:
        leaves = _leaves(spark, sf_dir)
        L.write_pyramid(spark, leaves, root, 5, 0, 32, slices_per_level=3)
        full1 = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}
        # simulate a crash mid-level-2: drop level 2's summary + slice 1,
        # its slice-1 files, and everything below (levels 0-1)
        lin = L.read_lineage(spark, root)
        keep = [
            tuple(r[c] for c in ("level", "partition", "row_count", "min_cell",
                                 "max_cell", "seconds", "status"))
            for r in lin.where(
                "level >= 3 OR (level = 2 AND status = 'slice' AND partition IN (0, 2))"
            ).collect()
        ]
        shutil.rmtree(f"{root}/_lineage")
        spark.createDataFrame(keep, L.LINEAGE_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{root}/_lineage")
        ldir = L.level_path(root, 2)
        for f in os.listdir(ldir):
            if f.startswith("s1-"):
                os.remove(os.path.join(ldir, f))
        for z in (0, 1):
            shutil.rmtree(L.level_path(root, z))
        out = L.write_pyramid(spark, leaves, root, 5, 0, 32, slices_per_level=3)
        assert set(out) == set(range(6))
        lin2 = L.read_lineage(spark, root)
        # slices 0 and 2 of level 2 kept their single original commit row
        cnt = {int(r["partition"]): r["n"] for r in lin2.where(
            "level = 2 AND status = 'slice'"
        ).groupBy("partition").agg(SF.count("*").alias("n")).collect()}
        assert cnt == {0: 1, 1: 1, 2: 1}
        full2 = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, root).collect()}
        assert full1 == full2
        # per-slice watermarks sum to each level summary
        parts = {r["level"]: r["n"] for r in lin2.where("status = 'slice'")
                 .groupBy("level").agg(SF.sum("row_count").alias("n")).collect()}
        for r in lin2.where("partition = -1").collect():
            assert parts[r["level"]] == r["row_count"]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _total_input_bytes(spark) -> int:
    el = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    return sum(el.apply(i).totalInputBytes() for i in range(el.size()))


def test_sliced_write_single_scan(spark, sf_dir):
    """VERDICT r3 'Next round' #6 done-criterion: slices_per_level=4 must
    scan the level input ONCE (one partitioned write job), not once per
    slice — the old loop re-filtered the full level N times.  Asserted on
    executor input bytes (load-independent, unlike wall time): the sliced
    write may read at most 2x the flat write's bytes (stats read-back of
    staging accounts for the slack), where the old loop read ~4x."""
    leaves = _leaves(spark, sf_dir)
    leaves = leaves.persist()
    leaves.count()
    try:
        r1 = tempfile.mkdtemp(prefix="pyr_flat_")
        r4 = tempfile.mkdtemp(prefix="pyr_sl4_")
        b0 = _total_input_bytes(spark)
        L.write_pyramid(spark, leaves, r1, 5, 0, 32, slices_per_level=1)
        flat_bytes = _total_input_bytes(spark) - b0
        b1 = _total_input_bytes(spark)
        L.write_pyramid(spark, leaves, r4, 5, 0, 32, slices_per_level=4)
        sliced_bytes = _total_input_bytes(spark) - b1
        # identical content either way
        a = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, r1).collect()}
        b = {r.cell: bytes(r.payload) for r in L.read_pyramid(spark, r4).collect()}
        assert a == b
        assert sliced_bytes < flat_bytes * 2.0 + 1_000_000, (
            f"sliced write read {sliced_bytes} bytes vs flat {flat_bytes} — "
            f"is the level being re-scanned per slice?")
    finally:
        leaves.unpersist()
        shutil.rmtree(r1, ignore_errors=True)
        shutil.rmtree(r4, ignore_errors=True)


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
