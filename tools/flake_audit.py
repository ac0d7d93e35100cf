"""Determinism audit for the driver's sorted-compare gate.

The gate (tools/check_contract.compare, mirroring the driver) sorts rows
by ALL columns in name order and compares values positionally with a
1e-9 float tolerance.  That makes a query FLAKY — even when its result
multiset is always correct — if two rows can tie on every column that
sorts BEFORE a float whose value depends on aggregation order (partial
float sums differ between plans/parallelism), because a 1-ulp divergence
then flips the sorted row order on one side only (observed: text_metrics
mix/mixup legs, fixed by a distinct integer key).

This harness detects that class empirically: every queries() entry runs
TWICE — local[8]/8 shuffle partitions vs local[8]/32 shuffle partitions
(different partial-aggregation shapes) — and the two results go through
the driver's own compare.  Any problem = inherent nondeterminism the
sf-level driver run could trip on.  Usage:

    python tools/flake_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from freemap_tiler_spark.session import get_spark
    from tools.check_contract import compare

    qs = entrymod.queries()
    flaky = 0
    results: dict[str, list] = {}
    for shuffle in (8, 32):
        spark = get_spark(app_name=f"flake{shuffle}", master="local[8]",
                          shuffle_partitions=shuffle)
        spark.sparkContext.setLogLevel("ERROR")
        for name, fn in qs.items():
            if only and name not in only:
                continue
            t0 = time.time()
            try:
                df = fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                print(f"ERR   {name}@{shuffle}: {type(e).__name__}: {e}")
                df = None
            results.setdefault(name, []).append(df)
            print(f"ran   {name}@{shuffle} [{time.time()-t0:.1f}s]", flush=True)
        spark.stop()

    for name, pair in results.items():
        a, b = pair if len(pair) == 2 else (None, None)
        if a is None or b is None:
            print(f"SKIP  {name}: a run errored")
            flaky += 1
            continue
        problems = compare(name, a, b)
        if problems:
            print(f"FLAKY {name}: {problems}")
            flaky += 1
        else:
            print(f"OK    {name}")
    print(f"FLAKY TOTAL: {flaky}")
    return 1 if flaky else 0


if __name__ == "__main__":
    raise SystemExit(main())
