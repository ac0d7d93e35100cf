"""Filesystem operations through the Hadoop FileSystem API.

Driver-side file management (existence probes, lineage resets, the
incremental store's staging swaps) must work on whatever filesystem backs
the store root — local disk in tests, HDFS/S3/GCS on a cluster.
``os.rename``/``shutil`` only work for local paths, so
every move/delete here routes through the JVM's resolved FileSystem for
the path's scheme (the same mechanism Spark's own committers use).

``write_rows`` and ``read_rows`` are the one way the driver writes and
reads its small tables (lineage rows, metadata, metrics).  They run no
Spark job: the driver serializes the rows to parquet with pyarrow and
moves the bytes through the same FileSystem, and Spark still reads the
result as an ordinary parquet table.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def _arrow_schema(ddl_schema: str) -> pa.Schema:
    return to_arrow_schema(StructType.fromDDL(ddl_schema))


def write_rows(
    spark: SparkSession, rows: list[tuple], ddl_schema: str, path: str, mode: str
) -> None:
    """Write a few driver-side rows as ONE parquet file under ``path``.

    The bytes go first to a hidden ``.part-<id>.parquet``, then are renamed
    to ``part-<id>.parquet``: a write killed before the rename leaves a
    file that Spark, pyarrow and ``read_rows`` all skip.  ``<id>`` starts
    with the write's clock time, so ``read_rows`` returns earlier appends
    first.  ``mode`` is ``"append"`` or ``"overwrite"``: an overwrite
    deletes the table's other ``part-*`` files only after its own file is
    in place, so a kill part-way leaves the old rows followed by the new
    ones, never an empty table."""
    schema = _arrow_schema(ddl_schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex}.parquet"
    fs, hidden, jvm = _jfs(spark, f"{path}/.{name}")
    out = fs.create(hidden, True)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(hidden, jvm.org.apache.hadoop.fs.Path(f"{path}/{name}")):
        raise OSError(f"could not rename {path}/.{name} to {name}")
    if mode == "overwrite":
        for old in _parts(fs, jvm, path):
            if old.getName() != name:
                fs.delete(old, False)


def _parts(fs, jvm, path: str) -> list:
    """The ``part-*.parquet`` files of a table, in file-name order."""
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{path}/part-*.parquet"))
    return sorted((st.getPath() for st in found or []), key=lambda f: f.getName())


def read_rows(spark: SparkSession, path: str, ddl_schema: str) -> list[dict]:
    """The rows of a small table under ``path`` as dicts, in file-name
    order, read with no Spark job.  Reads what ``write_rows`` wrote and
    Spark-written tables alike; like ``spark.read.schema(ddl)``, a column
    that a file lacks reads as NULL.  A missing table has no rows."""
    schema = _arrow_schema(ddl_schema)
    fs, _, jvm = _jfs(spark, path)
    rows: list[dict] = []
    for part in _parts(fs, jvm, path):
        stream = fs.open(part)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        t = pq.read_table(pa.BufferReader(data))
        rows += pa.table({
            f.name: t.column(f.name).cast(f.type) if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        }, schema=schema).to_pylist()
    return rows
