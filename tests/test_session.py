"""Session defaults that ``get_spark`` sets."""

import pytest
from pyspark.sql import SparkSession

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


@pytest.mark.spark
def test_call_site_capture_is_off(spark):
    """``get_spark`` turns PySpark's per-call call-site capture off."""
    assert spark.conf.get(DEBUGGING) == "false"


def test_extra_conf_overrides_call_site_capture(monkeypatch):
    """``extra_conf`` is applied after the defaults, so it can turn the
    capture back on.  The setting is static, so this reads the builder's
    options instead of starting a second session."""
    from freemap_tiler_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    assert get_spark(master="local[1]")[DEBUGGING] == "false"
    assert get_spark(master="local[1]", extra_conf={DEBUGGING: "true"})[DEBUGGING] == "true"
