"""Driver-contract spot checks: a fast subset of the oracle gate
(the full gate runs via tools/check_contract.py)."""

import sys
from pathlib import Path

import duckdb
import pytest

# this checkout's __spark_entry__ and tools, not another checkout's
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

pytestmark = pytest.mark.spark

FAST = [
    "limits_fold",
    "resume_anti_join",
    "window_topk",
    "geo_extract",
    "tile_assign",
    "pip_join",
    "exact_dedup",
    "simhash",
    "text_metrics",  # incl. the r5 rep/pii/url legs
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    from freemap_tiler_spark.sources.tables import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, sf_dir, oracle, name):
    import __spark_entry__ as e
    from tools.check_contract import compare

    sdf = e.queries()[name](spark, sf_dir).toPandas()
    odf = oracle.execute(e.oracle_sql()[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, problems


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["zoom", "x", "y", "tms_y", "payload_bytes"]


def test_every_query_has_callable(spark):
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 26
