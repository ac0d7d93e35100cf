"""Dedup's materialization points use a reliable checkpoint when the
session has a checkpoint dir.  Runs in its own Spark session, so the
shared test session never gets a checkpoint dir."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import os, sys
from pyspark.sql import functions as F
from freemap_tiler_spark.operators import dedup
from freemap_tiler_spark.session import get_spark

sf_dir, ck = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="checkpoint", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
planted = docs.unionByName(
    docs.where("doc_id % 10 = 0").withColumn("doc_id", F.col("doc_id") + 100000))

def run():
    # max_bucket_size 2 also walks the star and chain branches
    pairs = dedup.minhash_lsh_pairs(planted, max_bucket_size=2)
    comps = dedup.connected_components(pairs)
    return sorted(map(tuple, pairs.collect())), sorted(map(tuple, comps.collect()))

assert spark.sparkContext.getCheckpointDir() is None
local = run()
assert not any(files for _, _, files in os.walk(ck)), "local run wrote to ck"
spark.sparkContext.setCheckpointDir(ck)
reliable = run()
written = sum(len(files) for _, _, files in os.walk(ck))
assert written > 0, "no checkpoint files under the checkpoint dir"
assert reliable == local
assert len(local[0]) >= 50
spark.stop()
print("ok", len(local[0]), written)
"""


@pytest.mark.spark
def test_dedup_checkpoints_under_the_checkpoint_dir(sf_dir, tmp_path):
    """With ``setCheckpointDir`` the MinHash-LSH signatures and bucket
    table and every connected-components round land under that dir, and
    the pairs and components equal the ``localCheckpoint`` run's."""
    ck = tmp_path / "ck"
    ck.mkdir()
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir, str(ck)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[0] == "ok", out.stdout
