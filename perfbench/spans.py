"""Layer spans, process sampling and Spark event-log attribution.

A span wraps one call into a layer.  While it is open, the Spark job group
is ``"<layer>@<job>"``, so every Spark job the call starts carries the
innermost open span's name.  After the session stops, ``parse_event_log``
sums each job group's task metrics; ``layer_metrics`` joins them with the
spans' own self time and Python-worker CPU.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "pipeline",
    "plans.lineage",
    "plans.store",
    "plans.mbtiles",
    "operators.pyramid",
    "functions.text",
    "operators.pip_join",
    "operators.knn",
    "operators.dedup",
    "operators.similarity",
    "session",
]
LAYER_METRICS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
    ("task_skew", "ratio"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
    ("gc_s", "s"), ("py_mb", "MB"), ("items", "count"),
]
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
MB = 1e6


# ---------------------------------------------------------------------------
# /proc sampling of the processes this benchmark started (JVM + Python workers)
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields after comm) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), comm, rest)
    return out


def descendants(root: int | None = None) -> dict[int, tuple[int, str, list[str]]]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, todo = {}, list(kids[root])
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(kids[pid])
    return out


def live(pids) -> set[int]:
    """The processes of ``pids`` that still run (zombies count as ended)."""
    table = _proc_table()
    return {pid for pid in pids if pid in table and table[pid][2][0] != "Z"}


def python_worker_cpu_s() -> float:
    """Cumulative CPU of the Python workers (utime+stime of live workers plus
    cutime+cstime of the workers their daemon has reaped)."""
    total = 0
    for _, comm, rest in descendants().values():
        if comm.startswith("python"):
            total += sum(int(v) for v in rest[11:15])
    return total / _CLK


def tree_pss_mb() -> float:
    """Summed proportional set size of every child process.  PSS splits a
    shared page among the processes mapping it, so the Python workers a
    daemon forks add only their own pages (summed RSS would count the
    daemon's pages once per worker)."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total_kb * 1024 / MB


class MemorySampler:
    """Background thread recording the peak summed PSS of the JVM and its
    Python workers while ``active`` is set."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_pss_mb())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """Nested layer spans.  Disabled, ``span`` is a no-op context."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.job = "setup"
        self._stack: list[dict] = []
        # (layer, job) -> {"wall_s", "py_cpu_s", "items"}
        self.self_time: dict[tuple[str, str], dict] = defaultdict(
            lambda: {"wall_s": 0.0, "py_cpu_s": 0.0, "items": 0}
        )

    def _set_group(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{layer}@{self.job}", layer)

    @contextmanager
    def span(self, layer: str):
        """Yields a dict; set ``["items"]`` to the count of work handled."""
        handle = {"items": 0}
        if not self.enabled:
            yield handle
            return
        frame = {"layer": layer, "child_wall": 0.0, "child_cpu": 0.0}
        self._stack.append(frame)
        self._set_group(layer)
        cpu0, t0 = python_worker_cpu_s(), time.perf_counter()
        try:
            yield handle
        finally:
            wall = time.perf_counter() - t0
            cpu = python_worker_cpu_s() - cpu0
            self._stack.pop()
            rec = self.self_time[(layer, self.job)]
            rec["wall_s"] += wall - frame["child_wall"]
            rec["py_cpu_s"] += cpu - frame["child_cpu"]
            rec["items"] += handle["items"]
            if self._stack:
                self._stack[-1]["child_wall"] += wall
                self._stack[-1]["child_cpu"] += cpu
            self._set_group(self._stack[-1]["layer"] if self._stack else None)

    def add_items(self, layer: str, n: int) -> None:
        if self.enabled:
            self.self_time[(layer, self.job)]["items"] += n

    def wrap(self, module, name: str, layer: str, items=None):
        """Replace ``module.name`` by a spanned call; returns an undo function.
        ``items(result)`` gives the span's item count."""
        fn = getattr(module, name)

        def spanned(*args, **kwargs):
            with self.span(layer) as h:
                out = fn(*args, **kwargs)
                if items is not None:
                    h["items"] = items(out)
                return out

        setattr(module, name, spanned)
        return lambda: setattr(module, name, fn)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def event_log_lines(log_dir: str):
    """Events of every application log under ``log_dir`` (plain or rolling)."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse_event_log(events) -> dict[str, dict]:
    """Per job group: jobs, tasks, JVM task CPU, GC, shuffle write, disk
    spill, Arrow bytes to/from Python workers and the task run times.

    A stage belongs to the first job that lists it (later jobs list it
    again only when they reuse its shuffle output, and then skip it)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0, "py_mb": 0.0, "task_ms": [],
    })
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            rec = out[stage_group.get(ev["Stage ID"])]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["shuffle_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PY_BYTES:
                    rec["py_mb"] += int(acc["Update"]) / MB
    return dict(out)


def skew(task_ms: list[float]) -> float:
    """Slowest task / median task (0 when the layer ran no task)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def layer_metrics(
    groups: dict[str, dict], self_time: dict[tuple[str, str], dict],
    jobs: list[str],
) -> dict[str, float]:
    """``<layer>.<metric>`` -> median over ``jobs`` of the per-job value.

    ``groups`` comes from parse_event_log; ``self_time`` from Tracer.  The
    session layer runs once, at set-up, so its values are taken as they are.
    """
    out = {}
    for layer in LAYERS:
        keys = ["setup"] if layer == "session" else jobs
        per_job = []
        for job in keys:
            g = groups.get(f"{layer}@{job}", {})
            st = self_time.get((layer, job), {})
            per_job.append({
                "wall_s": st.get("wall_s", 0.0),
                "jobs": g.get("jobs", 0),
                "tasks": g.get("tasks", 0),
                "task_cpu_s": g.get("task_cpu_s", 0.0) + st.get("py_cpu_s", 0.0),
                "task_skew": skew(g.get("task_ms", [])),
                "shuffle_mb": g.get("shuffle_mb", 0.0),
                "spill_mb": g.get("spill_mb", 0.0),
                "gc_s": g.get("gc_s", 0.0),
                "py_mb": g.get("py_mb", 0.0),
                "items": st.get("items", 0),
            })
        for name, _ in LAYER_METRICS:
            out[f"{layer}.{name}"] = statistics.median(r[name] for r in per_job)
    return out
