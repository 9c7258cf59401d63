#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the fingerprints a correct run gives.

    python3 perfbench/make_expected.py

For each workload it runs the harness once with --dump, so the cold pass
also writes every output as parquet. Before any fingerprint is kept, each
output is cross-checked in DuckDB: a query against its oracle SQL from
SparkEntry.oracleSql, an io read-back against the source table (so an io
fingerprint is the source table's). A mismatch stops the script and
leaves expected.json as it was.
"""
import json
import math
import shutil
import sys
import time

import duckdb

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402
import run

def same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b or str(a) == str(b)


def oracle_check(con, got_path: str, sql: str) -> str:
    got = con.execute(f"SELECT * FROM '{got_path}/*.parquet'").fetchdf()
    want = con.execute(sql).fetchdf()
    got = got.reindex(sorted(got.columns), axis=1).sort_values(sorted(got.columns)).reset_index(drop=True)
    want = want.reindex(sorted(want.columns), axis=1).sort_values(sorted(want.columns)).reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not same(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return ""


def roundtrip_check(con, got_path: str, table: str) -> str:
    src = f"SELECT * FROM '{run.DATA}/{table}.parquet'"
    back = f"SELECT * FROM '{got_path}/*.parquet'"
    diff = con.execute(f"SELECT count(*) FROM (({src}) EXCEPT ALL ({back})) "
                       f"UNION ALL SELECT count(*) FROM (({back}) EXCEPT ALL ({src}))").fetchall()
    return "" if all(n == 0 for (n,) in diff) else f"read-back differs from {table}: {diff}"


def main() -> int:
    cp = build.build()
    con = duckdb.connect()
    for t in sorted(run.DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    expected = {}
    for workload in run.WORKLOADS:
        work = build.BUILD / "work" / f"expect-{workload}"
        dump = build.BUILD / "expect" / workload
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(dump, ignore_errors=True)
        work.mkdir(parents=True)
        dump.parent.mkdir(parents=True, exist_ok=True)
        artifact = build.BUILD / "expect" / f"{workload}.jsonl"
        artifact.unlink(missing_ok=True)
        with open(build.BUILD / "expect" / f"{workload}.log", "w") as log:
            _, rc = run.launch(run.jvm(cp, work, {
                "mode": "run", "cores": run.cores(), "data": run.DATA, "work": work,
                "workload": workload, "seed": 0, "seconds": 0, "trace": 0,
                "artifact": artifact, "dump": dump}), work, log, time.monotonic() + 600)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            print(f"{workload}: harness exited {rc}; see {log.name}", file=sys.stderr)
            return 1
        oracle = json.loads((dump / "oracle.json").read_text())
        rows = [json.loads(x) for x in artifact.read_text().splitlines()]
        expected[workload] = {}
        for r in (r for r in rows if r["row"] == "verify"):
            op = r["op"]
            if workload == "io":
                err = roundtrip_check(con, dump / op, op.split("_", 1)[1])
            elif op in oracle:
                err = oracle_check(con, dump / op, oracle[op])
            else:
                err = "no oracle SQL"
            if err:
                print(f"{workload}/{op}: {err}", file=sys.stderr)
                return 1
            print(f"{workload}/{op}: {r['fingerprint']['rows']} rows match")
            expected[workload][op] = r["fingerprint"]
    (run.BENCH / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
