"""The engine's Python worker daemon: stat-checked zip-directory invalidation."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter so this process's zipimport stays unpatched.
_SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport

from freemap_tiler_spark.worker_daemon import install_stat_checked_invalidation

archive = os.path.join(sys.argv[1], "mods.zip")

def write(members):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)

members = {"zmod/__init__.py": "", "zmod/a.py": "A = 1\n"}
write(members)
sys.path.insert(0, archive)
import zmod.a
assert zmod.a.A == 1

install_stat_checked_invalidation()
reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

importlib.invalidate_caches()
assert reads == [], f"unchanged archive re-read: {reads}"

members["zmod/b.py"] = "B = 2\n"
write(members)
importlib.invalidate_caches()
assert archive in reads, "rewritten archive was not re-read"
import zmod.b
assert zmod.b.B == 2
print("ok")
"""


def test_stat_checked_invalidation_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


@pytest.mark.spark
@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ re-reads zip directories lazily")
def test_local_workers_run_the_engine_daemon(spark):
    """Python workers of a local session are forked from the engine's
    daemon and carry its zip invalidation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def invalidation(ids: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        where = f"{os.path.basename(fn.__code__.co_filename)}:{fn.__qualname__}"
        return ids.map(lambda _: where)

    got = {r[0] for r in spark.range(8).select(invalidation("id")).collect()}
    assert got == {
        "worker_daemon.py:install_stat_checked_invalidation.<locals>.invalidate_caches"
    }
