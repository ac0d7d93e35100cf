"""Per-stage metrics table + live progress (A3/A4 parity).

The reference folds (count, total_duration) per metric over an mpsc channel
and prints every 10 s (src/time_track.rs:22-33,117-127).  Spark-native
equivalent:

- a driver-side stage timer that appends rows to a ``_metrics`` parquet
  table — (stage, seconds, rows, ts) — one row per pipeline stage (the
  reference's per-metric fold is a ``groupBy("stage")`` over it);
- a LIVE progress reporter (A4): while a stage runs, a daemon thread polls
  ``sparkContext.statusTracker()`` every ``PROGRESS_INTERVAL_S`` seconds and
  prints pct / completed-vs-total tasks / elapsed to stderr (the reference's
  10-s ticker).  A final 100% line is always printed at stage end, so every
  stage reports at least once regardless of its duration.

The five reference metric names map as: select->resume_probe,
warp->rasterize, compose->compose, encode->encode, insert->write.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession

from freemap_tiler_spark.plans.fsutil import write_rows

METRICS_SCHEMA = "stage string, seconds double, rows long, ts double"
PROGRESS_INTERVAL_S = 10.0


class MetricsSink:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_metrics")
        self._rows: list[tuple] = []

    def _emit_progress(self, name: str, t0: float, final: bool = False) -> None:
        completed = total = 0
        try:
            st = self.spark.sparkContext.statusTracker()
            for sid in st.getActiveStageIds():
                info = st.getStageInfo(sid)
                if info is not None:
                    total += info.numTasks
                    completed += info.numCompletedTasks
        except Exception:
            pass  # progress must never kill the job
        pct = 100.0 if final else (100.0 * completed / total if total else 0.0)
        el = time.time() - t0
        print(
            f"[tiler] {name}: {pct:.0f}% tasks {completed}/{total} {el:.1f}s",
            file=sys.stderr,
        )

    @contextmanager
    def stage(self, name: str):
        t0 = time.time()
        holder = {"rows": None}
        stop = threading.Event()

        def _tick():
            while not stop.wait(PROGRESS_INTERVAL_S):
                self._emit_progress(name, t0)

        th = threading.Thread(target=_tick, daemon=True, name=f"progress-{name}")
        th.start()
        try:
            yield holder
        finally:
            stop.set()
            th.join(timeout=1.0)
            self._emit_progress(name, t0, final=True)
            # the holder is read at flush, so a stage's row count may be
            # set after the stage ends, once a later stage knows it
            self._rows.append((name, time.time() - t0, holder, float(time.time())))

    def flush(self) -> None:
        if self._rows:
            write_rows(
                self.spark,
                [(n, s, h.get("rows"), ts) for n, s, h, ts in self._rows],
                METRICS_SCHEMA, self.path, "append",
            )
            self._rows = []
