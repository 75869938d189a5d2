"""Local stand-in for the driver's correctness gate: run every declared
query through Spark AND its oracle SQL through DuckDB on the same parquet
tables, compare row count + schema + order-insensitive values.

Stricter than the driver (exact stringified-value comparison after sorting
columns by name and rows lexicographically), so passing here should imply
passing the driver's row-count + schema + value-hash check.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

# Import the package from the checkout this script lives in, not from
# wherever the interpreter was started.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pagerank_giraph_vs_mapreduce_spark.plans.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    load_all_queries,
)
from pagerank_giraph_vs_mapreduce_spark.session import get_spark  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.sources.tables import TABLES  # noqa: E402


def norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(float(v))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon(rows: list[tuple], cols: list[str]) -> tuple[list[str], list[tuple[str, ...]]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    load_all_queries()
    spark = get_spark(shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = [n for n in sorted(QUERIES) if not only or n in only]
    failures = 0
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in ORACLES:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
            continue
        try:
            res = con.execute(ORACLES[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue

        s_cols, s_vals = canon(srows, scols)
        d_cols, d_vals = canon(drows, dcols)
        if s_cols != d_cols:
            print(f"FAIL  {name}: schema mismatch spark={s_cols} duck={d_cols}")
            failures += 1
        elif len(s_vals) != len(d_vals):
            print(f"FAIL  {name}: rowcount spark={len(s_vals)} duck={len(d_vals)}")
            failures += 1
        elif s_vals != d_vals:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_vals, d_vals)) if a != b
            )
            print(f"FAIL  {name}: value mismatch at sorted-row {bad[0]}:")
            print(f"      spark cols={s_cols}")
            print(f"      spark={bad[1]}")
            print(f"      duck ={bad[2]}")
            failures += 1
        else:
            print(f"OK    {name}: {len(s_vals)} rows")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
