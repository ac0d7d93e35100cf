import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="module")
def bench_spark(tmp_path_factory):
    """The benchmark's own session (local[nproc], scratch inside a temp dir)."""
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session(work, trace=False)
    yield spark, work
    run.stop_session(spark)
