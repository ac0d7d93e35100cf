"""Tests of the benchmark itself: event-log attribution, spans, and output
checks that must fail on corrupted outputs and pass on any seed.

    python -m pytest perfbench/tests -q
"""

import os
import shutil
import sqlite3
import time

import pytest

from perfbench import spans, workloads

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


class FakeContext:
    """Records the job group a SparkContext would carry."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_event_log_totals_per_group():
    """The recorded log (two pandas-UDF jobs, two shuffle jobs, two ungrouped
    jobs, and a job that only reuses an earlier stage) sums to known totals."""
    groups = spans.parse_event_log(spans.event_log_lines(DATA))
    pyr = groups["operators.pyramid@0"]
    assert (pyr["jobs"], pyr["tasks"]) == (2, 3)
    assert pyr["py_mb"] == pytest.approx(2 * (552 + 544) / 1e6)
    assert pyr["shuffle_mb"] == pytest.approx(118 / 1e6)
    assert pyr["gc_s"] == pytest.approx(0.086)
    assert sorted(pyr["task_ms"]) == [112, 2451, 2474]
    store = groups["plans.store@0"]
    assert (store["jobs"], store["tasks"], store["py_mb"]) == (2, 5, 0.0)
    assert store["shuffle_mb"] == pytest.approx(699 / 1e6)
    assert (groups[None]["jobs"], groups[None]["tasks"]) == (2, 3)
    # stage 2 ran under the pyramid job; the later job that lists it skips it
    assert (groups["plans.lineage@0"]["jobs"], groups["plans.lineage@0"]["tasks"]) == (1, 0)


def test_layer_metrics_join_spans_and_log():
    groups = spans.parse_event_log(spans.event_log_lines(DATA))
    self_time = {("operators.pyramid", "0"): {"wall_s": 1.5, "py_cpu_s": 0.25, "items": 7}}
    m = spans.layer_metrics(groups, self_time, ["0"])
    assert len(m) == len(spans.LAYERS) * len(spans.LAYER_METRICS)
    assert m["operators.pyramid.wall_s"] == 1.5
    assert m["operators.pyramid.items"] == 7
    assert m["operators.pyramid.task_cpu_s"] == pytest.approx(
        groups["operators.pyramid@0"]["task_cpu_s"] + 0.25
    )
    assert m["operators.pyramid.task_skew"] == pytest.approx(2474 / 2451)
    assert m["plans.store.tasks"] == 5
    assert m["operators.knn.jobs"] == 0 and m["operators.knn.task_skew"] == 0.0


def test_nested_spans_set_groups_and_self_time():
    sc = FakeContext()
    tracer = spans.Tracer(sc, enabled=True)
    tracer.job = "3"
    with tracer.span("pipeline"):
        time.sleep(0.05)
        with tracer.span("plans.store") as h:
            time.sleep(0.1)
            h["items"] = 4
    assert sc.groups == ["pipeline@3", "plans.store@3", "pipeline@3", None]
    outer = tracer.self_time[("pipeline", "3")]["wall_s"]
    inner = tracer.self_time[("plans.store", "3")]["wall_s"]
    assert 0.05 <= outer < 0.1 <= inner
    assert tracer.self_time[("plans.store", "3")]["items"] == 4

    tracer.enabled = False
    with tracer.span("pipeline"):
        pass
    assert len(sc.groups) == 4


def test_png_decoder_rejects_corruption():
    import zlib

    import numpy as np

    from freemap_tiler_spark.functions.codecs import png_encode

    img = np.random.default_rng(0).integers(0, 256, size=(16, 16, 4), dtype=np.uint8)
    data = png_encode(img)
    assert (workloads.png_decode(data) == img).all()
    bad = bytearray(data)
    bad[60] ^= 0xFF  # inside IDAT
    with pytest.raises((ValueError, zlib.error)):
        workloads.png_decode(bytes(bad))


def _run(spark, work, name, seed, tag):
    make, job, check, _ = workloads.WORKLOADS[name]
    ctx = make(spark, seed, os.path.join(work, f"{tag}-in"), workloads.SMALL)
    result = job(spark, ctx, spans.Tracer(), os.path.join(work, f"{tag}-out"))
    return ctx, result, check


@pytest.mark.spark
def test_tiler_checks_pass_on_two_seeds_and_fail_when_corrupted(bench_spark):
    spark, work = bench_spark
    ctx1, res1, check = _run(spark, work, "tiler_png", 1, "t1")
    ctx2, res2, _ = _run(spark, work, "tiler_png", 2, "t2")
    assert check(ctx1, res1) == [] and check(ctx2, res2) == []
    assert ctx1.expect["origin"] != ctx2.expect["origin"]

    def corrupted(sql, *params):
        path = res1["mbtiles"] + ".bad"
        shutil.copy(res1["mbtiles"], path)
        conn = sqlite3.connect(path)
        conn.execute(sql, params)
        conn.commit()
        conn.close()
        return check(ctx1, dict(res1, mbtiles=path))

    conn = sqlite3.connect(res1["mbtiles"])
    z0 = ctx1.size.min_zoom
    rowid, data = conn.execute(
        "SELECT rowid, tile_data FROM tiles WHERE zoom_level = ?"
        " ORDER BY tile_column, tile_row LIMIT 1", (z0,)
    ).fetchone()
    conn.close()
    flipped = bytearray(data)
    flipped[len(data) // 2] ^= 0x01  # inside the IDAT payload
    # a flipped payload bit in the top-level tile, a lost tile, lost metadata
    assert corrupted("UPDATE tiles SET tile_data = ? WHERE rowid = ?", bytes(flipped), rowid)
    assert corrupted("DELETE FROM tiles WHERE rowid = (SELECT MAX(rowid) FROM tiles)")
    assert corrupted("DELETE FROM metadata WHERE name = 'bounds'")


@pytest.mark.spark
def test_corpus_checks_pass_on_two_seeds_and_fail_when_corrupted(bench_spark):
    spark, work = bench_spark
    ctx1, res1, check = _run(spark, work, "corpus_joins", 1, "c1")
    ctx2, res2, _ = _run(spark, work, "corpus_joins", 2, "c2")
    assert check(ctx1, res1) == [] and check(ctx2, res2) == []
    assert ctx1.expect["texts"] != ctx2.expect["texts"]
    assert res1["pairs"], "the planted near-duplicates are found"

    a, b = 0, 1  # unrelated documents
    assert check(ctx1, dict(res1, pairs=res1["pairs"] + [(a, b, 1.0)]))
    assert check(ctx1, dict(res1, knn_rows=res1["knn_rows"] - 1))
    assert check(ctx1, dict(res1, pip={**res1["pip"], 1: res1["pip"][1] + 1}))
    assert check(ctx1, dict(res1, pairs=[]))
