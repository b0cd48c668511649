"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row-count + sorted-column value multisets.

Per-query Spark wall seconds are recorded and printed as a sorted timing
table at the end — running this at sf0.1 each round is the standing plan-
regression check (r4 verdict #5: the 200× inferred-filter double-evaluation
was caught as a wall-time outlier in exactly this sweep). `--json PATH`
additionally dumps {name: sec} for BENCH.md.

Usage: python tools/check_oracles.py [sf_dir] [only_name ...] [--json PATH]
"""

from __future__ import annotations

import json
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def to_rows(cols, data):
    # sort columns by name, rows by value tuple — order-insensitive compare
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in data)


def main():
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_oracles.py [sf_dir] [only_name ...] [--json PATH]")
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.perf_counter()
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdata = [tuple(r) for r in sdf.collect()]
            timings[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdata)} rows, cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            ddata = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck] {name}: {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"cols {sorted(scols)} vs {sorted(dcols)}"))
            print(f"[FAIL-cols] {name}: {sorted(scols)} vs {sorted(dcols)}")
            continue
        a, b = to_rows(scols, sdata), to_rows(dcols, ddata)
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} vs {len(b)}"))
            print(f"[FAIL-rows] {name}: {len(a)} vs {len(b)}")
        elif a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, first: {diff}"))
            print(f"[FAIL-vals] {name}: first diffs {diff}")
        else:
            print(f"[OK] {name}: {len(a)} rows")
    if timings:
        print("\nSpark wall per query (sec, sorted desc — plan-regression watch):")
        for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
            print(f"  {sec:8.2f}  {name}")
        print(f"  {sum(timings.values()):8.2f}  TOTAL ({len(timings)} queries)")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "spark_sec": timings}, fh)
    print(f"\n{len(failures)} failures" + (f": {[f[0] for f in failures]}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
