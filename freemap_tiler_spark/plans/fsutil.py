"""Filesystem operations through the Hadoop FileSystem API.

Driver-side file management (existence probes, lineage resets, the
incremental store's staging swaps) must work on whatever filesystem backs
the store root — local disk in tests, HDFS/S3/GCS on a cluster.
``os.rename``/``shutil`` only work for local paths, so
every move/delete here routes through the JVM's resolved FileSystem for
the path's scheme (the same mechanism Spark's own committers use).
``write_rows`` is the one way the driver writes its small tables (lineage
rows, metadata, metrics).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _jfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _jfs(spark, path)
    return bool(fs.exists(p))


def fs_delete(spark: SparkSession, path: str) -> None:
    fs, p, _ = _jfs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic on HDFS/local; S3A emulates with copy+delete (documented
    Hadoop behavior — callers keep a recorded commit row as the source of
    truth, never the rename alone)."""
    fs, s, jvm = _jfs(spark, src)
    return bool(fs.rename(s, jvm.org.apache.hadoop.fs.Path(dst)))


def write_rows(
    spark: SparkSession, rows: list[tuple], ddl_schema: str, path: str, mode: str
) -> None:
    """Write a few driver-side rows as parquet.

    The rows go through a pandas frame, so Spark plans them as a
    ``LocalRelation`` shipped over Arrow.  A Python list plans as a
    parallelized RDD and costs ~250 ms more per write (403 vs 149 ms median
    for a 5-row lineage frame on 4 vCPU).  ``dtype=object`` keeps a NULL in
    a long column as NULL instead of a float NaN."""
    import pandas as pd
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl_schema)
    pdf = pd.DataFrame(rows, columns=schema.names, dtype=object)
    # one file per call: a few rows spread over defaultParallelism tasks
    # would leave that many files per append for every later read to list
    spark.createDataFrame(pdf, schema).coalesce(1).write.mode(mode).parquet(path)
