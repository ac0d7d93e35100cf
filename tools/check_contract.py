"""Local stand-in for the driver's correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name] on
DuckDB over the same sf dir; compares row count, column names, and
order-insensitive values (sorted by all columns).  Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"cols spark={scols} oracle={ocols}")
        return problems
    s = sdf[scols].sort_values(scols).reset_index(drop=True)
    o = odf[scols].sort_values(scols).reset_index(drop=True)
    if len(s) != len(o):
        return problems
    for c in scols:
        sv, ov = s[c], o[c]
        # the driver hashes *typed* values: int64 123456 vs float64 123456.0
        # diverge there, so a kind mismatch is a failure here too.
        if sv.dtype.kind != ov.dtype.kind and {sv.dtype.kind, ov.dtype.kind} & {"f", "i", "u"}:
            if not (sv.dtype.kind in "iu" and ov.dtype.kind in "iu"):
                problems.append(
                    f"col {c} dtype kind differs: spark={sv.dtype} oracle={ov.dtype}"
                )
                continue
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            ok = np.allclose(
                sv.astype(float), ov.astype(float), rtol=0, atol=1e-9, equal_nan=True
            )
        else:
            ok = (sv.astype(str) == ov.astype(str)).all()
        if not ok:
            bad = (sv.astype(str) != ov.astype(str)) if sv.dtype.kind != "f" else ~np.isclose(sv.astype(float), ov.astype(float), rtol=0, atol=1e-9, equal_nan=True)
            i = int(np.nonzero(np.asarray(bad))[0][0])
            problems.append(f"col {c} differs at sorted row {i}: spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r} ({int(bad.sum())} rows)")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from freemap_tiler_spark.session import get_spark
    from freemap_tiler_spark.sources.tables import TABLES

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        ts = time.time() - t0
        if name not in osql:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{ts:.1f}s]")
            continue
        t0 = time.time()
        try:
            odf = con.execute(osql[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            failures += 1
            continue
        to = time.time() - t0
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} [spark {ts:.1f}s oracle {to:.1f}s]")
        else:
            print(f"OK    {name}: {len(sdf)} rows [spark {ts:.1f}s oracle {to:.1f}s]")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
