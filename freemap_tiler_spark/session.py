"""SparkSession factory with the engine's scale-oriented defaults.

Settings chosen for the 100 TB design point: AQE on (runtime coalesce +
skew-join split), Arrow on (all our kernels are Arrow-batched pandas UDFs),
local mode sized to the CPUs this process may run on, shuffle partitions
sized to cores locally (on a real cluster this is set to 2-3x total cores
via spark-submit conf).

Local masters also start their Python workers from
``freemap_tiler_spark.worker_daemon`` (``spark.python.daemon.module``):
PySpark's daemon with a stat-checked zip-directory invalidation, so a task
no longer re-reads ``pyspark.zip`` 14-16 times before its UDF runs (on
CPython < 3.12; see that module).  In local mode the workers are children
of this driver and import this package for every engine UDF anyway; the
package root is put on their path.  Other masters keep PySpark's daemon: a
cluster whose executors have the package installed can opt in with
``--conf spark.python.daemon.module=freemap_tiler_spark.worker_daemon``.
``extra_conf`` overrides either setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "freemap-tiler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # pin BLAS to one thread per task: Spark owns the parallelism; unpinned
    # OpenBLAS would let every Python worker fan out to all machine cores,
    # destroying task-level scaling accounting (and oversubscribing at 32x32).
    # os.environ covers local mode (python workers are driver children);
    # spark.executorEnv.* covers cluster mode (workers are EXECUTOR
    # children and inherit the worker JVM's env, not the driver's)
    _blas_vars = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
    for var in _blas_vars:
        os.environ.setdefault(var, "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) merges a small pre-join shuffle
        # down to ONE partition even with parallelismFirst on; when the next
        # operator is a fan-out (broadcast join against a dense side, explode),
        # the multiplied rows then sort/compute on one core (measured: the kNN
        # candidate stage ran its 3.9M-row WindowGroupLimit single-threaded,
        # 3.5s -> 1.3s with a 4k floor).  At production partition sizes
        # (>=64MB) the floor never binds, so this only affects nearly-empty
        # shuffles.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # binary tile payloads: columnar-cache compression measured at 26%
        # of persist cost and slower cached scans; payloads get PNG/JPEG
        # compressed at the sink anyway.  Memory-tight clusters can flip
        # this back via extra_conf.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle spill to tmpfs: local-mode shuffles bottleneck on the
        # virtio disk (~0.5 GB/s, core-count-independent) otherwise; on a
        # real cluster this is the executors' local NVMe
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
                if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.sql.session.timeZone", "UTC")
        # no DataFrame call-site capture: with it on, PySpark wraps every
        # Column and DataFrame call to walk the Python stack and send the
        # caller's file:line to the JVM: several more py4j calls per call,
        # paid by every operator that builds a plan between Spark jobs.
        # Only the Python file:line in Spark's error context is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for var in _blas_vars:
        b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    if master == "local" or master.startswith("local["):
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = (b.config("spark.python.daemon.module", "freemap_tiler_spark.worker_daemon")
             .config("spark.executorEnv.PYTHONPATH", pkg_root))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
