#!/usr/bin/env python3
"""Local pre-validation of SparkEntry outputs against the DuckDB oracle.

Mimics the driver's t2 gate: for each query output parquet under OUT_DIR,
run the matching SQL from oracle_sql.json in DuckDB over the same
sf-directory tables, sort columns by name, and compare values.

Each ✓/✗ line ends with the seconds that query's check took (reading
the output plus running its oracle SQL). The last line sums up: the
check's total seconds and its three slowest queries.

Usage: oracle_check.py SF_DIR OUT_DIR
"""
import json
import math
import os
import sys
import time

import duckdb


def main(sf_dir: str, out_dir: str) -> int:
    start = time.monotonic()
    secs_by_name = {}
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)

    failures = 0
    produced = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(os.path.join(out_dir, d)))
    for name in produced:
        if name not in oracle:
            print(f"  [rows-only] {name}: no oracle SQL (weaker check)")
            continue
        t0 = time.monotonic()
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            secs_by_name[name] = time.monotonic() - t0
            print(f"✗ {name}: oracle error: {e} ({secs_by_name[name]:.1f} s)")
            failures += 1
            continue
        secs_by_name[name] = time.monotonic() - t0
        secs = f"({secs_by_name[name]:.1f} s)"
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            print(f"✗ {name}: columns {list(got.columns)} != {list(want.columns)} {secs}")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"✗ {name}: rows {len(got)} != {len(want)} {secs}")
            failures += 1
            continue
        bad = None
        for c in got.columns:
            gv, wv = list(got[c]), list(want[c])
            for i, (a, b) in enumerate(zip(gv, wv)):
                if a is None and b is None:
                    continue
                ok = (a == b)
                if not ok and isinstance(a, float) and isinstance(b, float):
                    ok = (math.isnan(a) and math.isnan(b)) or a == b
                if not ok:
                    try:
                        ok = str(a) == str(b)
                    except Exception:
                        pass
                if not ok:
                    bad = (c, i, a, b)
                    break
            if bad:
                break
        if bad:
            c, i, a, b = bad
            print(f"✗ {name}: col {c} row {i}: got {a!r} want {b!r} {secs}")
            failures += 1
        else:
            print(f"✓ {name}: {len(got)} rows match {secs}")
    missing = set(oracle) - set(produced)
    for name in sorted(missing):
        print(f"✗ {name}: oracle SQL declared but no parquet output")
        failures += 1
    slowest = sorted(secs_by_name.items(), key=lambda kv: -kv[1])[:3]
    print(f"summary: {len(secs_by_name)} checked, {failures} failed, "
          f"{time.monotonic() - start:.1f} s total; slowest: "
          + ", ".join(f"{n} {t:.1f} s" for n, t in slowest))
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
