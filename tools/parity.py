"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count + column names + order-insensitive values.

Usage::

    python tools/parity.py [--sf-dir /root/testdata/sf0.01] [--only q10,...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_duckdb_parquet__spark.queries.common import TABLES  # noqa: E402


def canon(df) -> list[tuple]:
    """Column-name-sorted, row-sorted canonical value table (the parity
    comparison of this tool and of ``tests/test_oracle_parity.py``)."""
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from etl_sql_duckdb_parquet__spark.session import get_spark

    spark = get_spark(cores=args.cores)
    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{tname}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    failures, passed = [], 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        if name not in oracles:
            failures.append((name, "no DuckDB oracle"))
            print(f"✗ {name}: no oracle")
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
        except Exception:
            failures.append((name, "SPARK ERROR\n" + traceback.format_exc()))
            print(f"✗ {name}: spark error")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            failures.append((name, "ORACLE ERROR\n" + traceback.format_exc()))
            print(f"✗ {name}: oracle error")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"columns spark={sorted(sdf.columns)} duck={sorted(odf.columns)}"
            )
        else:
            cs, co = canon(sdf), canon(odf)
            if cs != co:
                diffs = [
                    (a, b) for a, b in zip(cs, co) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"✗ {name}: {problems[0][:200]}")
        else:
            passed += 1
            print(
                f"✓ {name} ({len(sdf)} rows, {time.perf_counter() - t0:.1f}s)"
            )

    print(f"\n{passed} oracle-verified, {len(failures)} failed")
    for name, msg in failures:
        print(f"\n--- {name}\n{msg[:2000]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
