"""Benchmark of the engine: seeded batch workloads on local[nproc].

    python3 perfbench/run.py --workload tiler_png --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Prints a host fingerprint and a readable
summary, then, as the last line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones.  Everything the run
writes goes to ``.perfbench_work/`` in the checkout and is removed at exit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = len(os.sched_getaffinity(0))
SETUP_REPEATS = 3   # input generation is repeated; setup_s uses the median
MIN_JOBS = 3        # jobs per run, warm-up included, even when --seconds runs out first
DRIVER_MEMORY = "1g"

# one BLAS thread in this process and in every Python worker, set before
# numpy loads: Spark owns the parallelism, and the calibration probe below
# must be single-threaded to compare across hosts
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

sys.path.insert(0, ROOT)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# Host fingerprint
# ---------------------------------------------------------------------------

def _fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, fs = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fs
    return kind


def _source_rev() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "no-git"


def calibrate_ms() -> float:
    """Single-BLAS-thread numpy probe (ms); higher means a slower or busier core."""
    import numpy as np

    a = np.random.default_rng(0).random((400, 400))
    t0 = time.perf_counter()
    for _ in range(3):
        a = np.tanh(a @ a.T / 400.0)
    return round((time.perf_counter() - t0) * 1e3, 2)


def fingerprint(work: str) -> dict:
    import numpy
    import pyspark

    info = {}
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                info["cpu_model"] = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": NPROC,
        "cpu_model": info.get("cpu_model", "unknown"),
        "mem_total_mb": mem_kb // 1024,
        "work_fs": _fs_type(work),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "rev": _source_rev(),
        "calib_1thread_ms": calibrate_ms(),
    }


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_session(work: str, trace: bool):
    """local[nproc] session with its scratch space, temp files and (traced)
    event log inside ``work``; Python workers get the checkout on their path."""
    from pyspark.sql import functions as F

    from freemap_tiler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no JVM (spark-submit's launcher included) writes its perf-data file
    # or temp files outside the work dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]",
                      shuffle_partitions=NPROC, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # start every Python worker (imports, Arrow) before any job is timed
    spark.sparkContext.setJobGroup("session@setup", "session")
    ident = F.pandas_udf("long")(lambda s: s)
    spark.range(NPROC * 4, numPartitions=NPROC * 4).select(
        ident("id").alias("x")
    ).agg(F.sum("x")).collect()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process the
    session started (the JVM, the Python worker daemon and its workers) has
    ended; what outlives a grace period is killed."""
    from pyspark import SparkContext

    from perfbench.spans import descendants, live

    children = set(descendants())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while live(children) and time.time() < deadline:
        time.sleep(0.2)
    for pid in live(children):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while live(children):
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------

def tail_percentile(n: int) -> int | None:
    """Highest percentile with at least ten samples above it, if any."""
    p = int(100 * (1 - 10 / n)) if n else 0
    return p if p >= 50 else None


def run(args) -> int:
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    make, job, check, output = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    spark = sampler = None
    try:
        host = fingerprint(work)
        print("host " + json.dumps(host, sort_keys=True), flush=True)
        sampler = spans.MemorySampler()

        t0 = time.perf_counter()
        cpu0 = spans.python_worker_cpu_s()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark.sparkContext, enabled=False)
        tracer.self_time[("session", "setup")].update(
            wall_s=session_s, py_cpu_s=spans.python_worker_cpu_s() - cpu0, items=NPROC,
        )
        input_s = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            ctx = make(spark, args.seed, os.path.join(work, f"inputs{rep}"))
            input_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(input_s)

        attempts: list[dict] = []

        def one_job(traced: bool) -> None:
            i = len(attempts)
            out = os.path.join(work, "out", str(i))
            tracer.enabled, tracer.job = traced, str(i)
            rec = {"i": i, "traced": traced, "errors": []}
            t0 = time.perf_counter()
            try:
                result = job(spark, ctx, tracer, out)
                rec["job_s"] = time.perf_counter() - t0
                rec["errors"] = check(ctx, result)
                rec["tiles"], rec["output_mb"] = output(result)
            except Exception as exc:  # counted as a failed job; the run goes on
                rec.setdefault("job_s", time.perf_counter() - t0)
                rec["errors"].append(f"{type(exc).__name__}: {exc}")
                traceback.print_exc()
            finally:
                tracer.enabled = False
                shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
            attempts.append(rec)
            print(f"job {i} {'traced' if traced else 'untraced'} {rec['job_s']:.3f} s"
                  + (f" FAILED {rec['errors']}" if rec["errors"] else " ok"), flush=True)

        # The first job is the warm-up: it pays JIT, plan-cache and worker
        # import costs that later jobs do not, so it is checked but not
        # timed.  A traced run then alternates traced and untraced jobs; the
        # difference of their medians is the tracing overhead.
        sampler.active.set()
        t_start = time.perf_counter()
        while len(attempts) < MIN_JOBS or time.perf_counter() - t_start < args.seconds:
            one_job(traced=trace and len(attempts) % 2 == 1)
        sampler.active.clear()
        peak_rss = sampler.peak_mb
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            stop_session(spark)
        groups = (spans.parse_event_log(spans.event_log_lines(os.path.join(work, "eventlog")))
                  if trace and os.path.isdir(os.path.join(work, "eventlog")) else {})
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    failed = sum(1 for r in attempts if r["errors"])
    plain = [r for r in attempts[1:] if not r["traced"]]
    samples = [r["job_s"] for r in plain]
    job_s = statistics.median(samples)
    ok = [r for r in attempts if not r["errors"]] or attempts
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "tiles_per_s": (statistics.median(r.get("tiles", 0) for r in ok) / job_s, "1/s"),
        "output_mb": (statistics.median(r.get("output_mb", 0.0) for r in ok), "MB"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    if args.workload == "corpus_joins":
        e2e["docs_per_s"] = (ctx.size.docs / job_s, "1/s")
    e2e["failed_frac"] = (failed / len(attempts), "ratio")
    pct = tail_percentile(len(samples))
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {len(attempts)} jobs "
          f"(warm-up {attempts[0]['job_s']:.3f} s, {len(samples)} timed untraced), local[{NPROC}]")
    print(f"  setup_s parts: session+warm-up {session_s:.3f} s, inputs "
          + ", ".join(f"{s:.3f}" for s in input_s) + " s")
    print("  job_s samples: " + ", ".join(f"{s:.3f}" for s in samples) + "; " + (
        f"p{pct} {statistics.quantiles(samples, n=100)[pct - 1]:.3f} s" if pct
        else f"no tail percentile: {len(samples)} samples leave fewer than 10 above p50"))
    for name, (value, unit) in e2e.items():
        print(f"  {name:<12} {value:12.4f} {unit}")

    if trace:
        traced = [r["job_s"] for r in attempts if r["traced"]]
        layer = spans.layer_metrics(
            groups, tracer.self_time, [str(r["i"]) for r in attempts if r["traced"]]
        )
        layer["trace.overhead_s"] = statistics.median(traced) - job_s
        units = dict(spans.LAYER_METRICS)
        metrics = {k: {"value": v, "unit": units.get(k.rsplit(".", 1)[1], "s")}
                   for k, v in layer.items()}
        print(f"  {'layer':<21}" + "".join(
            f"{name:>11}" for name, _ in spans.LAYER_METRICS))
        for name in spans.LAYERS:
            print(f"  {name:<21}" + "".join(
                f"{layer[f'{name}.{m}']:11.3f}" for m, _ in spans.LAYER_METRICS))
        print(f"  trace.overhead_s {layer['trace.overhead_s']:.3f} s")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(attempts),
                      "failed": failed, "metrics": metrics}))
    return 0


END_TO_END = ("setup_s", "job_s", "tiles_per_s", "output_mb", "peak_rss_mb")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "freemap_tiler_spark", "__init__.py")):
        print(f"freemap_tiler_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
