#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For every query dumped by graft.Verify (<outDir>/<name>/ parquet) with an
entry in <outDir>/oracle_sql.json, run the oracle SQL in DuckDB against
views named after the fixture tables, then compare: schema (column names,
sorted), row count, and values (columns sorted by name, rows sorted by all
columns, floats compared exactly after both sides' round()).

Dev-only tool (driver-side python), not part of the shipped library.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# DuckDB's default memory limit is 80% of RAM: uncapped, q_kcore's oracle
# grew to 8.7 GB RSS at sf0.01 and was OOM-killed beside two JVMs on a
# 16 GB host. That was q_kcore's unrolled peel re-expanding its
# unmaterialized round CTEs once per reader; with every round CTE
# `AS MATERIALIZED` it needs under 1 GB at sf0.1, and 4 GB runs all 318
# oracles at sf0.001 and sf0.01.
MEMORY_LIMIT = "4GB"


def canon(rows, cols):
    """Sort columns by name, normalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # absorb -0.0 and float noise at the 1e-9 level
            return f"{v:.9g}"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main(sf_dir, out_dir):
    out = Path(out_dir)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    print(f"duckdb memory_limit={MEMORY_LIMIT}")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    # Enumerate the FULL registry Verify ran (queries.json), not just the
    # output dirs that happened to be written: a query that crashed inside
    # Verify (recorded in failures.json, or simply absent) must show up as
    # a failure here, never silently drop out of the report.
    failures = {}
    fj = out / "failures.json"
    if fj.exists():
        failures = json.loads(fj.read_text())
    qj = out / "queries.json"
    if qj.exists():
        registry = sorted(json.loads(qj.read_text()))
    else:  # pre-r6 Verify output: fall back to written dirs
        registry = sorted(d.name for d in out.iterdir() if d.is_dir())
    # An empty sweep (e.g. a Verify filter that matched nothing) checked
    # nothing; it must not read as pass=0 fail=0 success.
    if not registry:
        print(f"no query to check in {out}")
        return 1

    n_pass = n_fail = n_noracle = 0
    for name in registry:
        qdir = out / name
        if not qdir.is_dir():
            n_fail += 1
            err = failures.get(name, "no output written (crash not recorded)")
            print(f"  [FAIL-run ] {name}: {err}")
            continue
        spark_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        spark_cols = [c for c in spark_rel.columns]
        spark_rows = spark_rel.fetchall()
        if name not in oracle:
            n_noracle += 1
            print(f"  [rows-only] {name}: rows={len(spark_rows)}")
            continue
        try:
            duck_rel = con.sql(oracle[name])
            duck_cols = [c for c in duck_rel.columns]
            duck_types = [str(t) for t in duck_rel.types]
            duck_rows = duck_rel.fetchall()
        except Exception as e:
            n_fail += 1
            print(f"  [FAIL-sql ] {name}: oracle SQL error: {e}")
            continue
        # The driver's hash-compare is type-sensitive in ways str() hides:
        # DuckDB integer sum() yields HUGEINT (int128) which hash-mismatches
        # Spark's BIGINT even when values are equal (seen in round 1). Treat
        # any HUGEINT/DECIMAL oracle output column as a failure here so it
        # never reaches the driver.
        bad_types = [(c, t) for c, t in zip(duck_cols, duck_types)
                     if "HUGEINT" in t or "DECIMAL" in t]
        if bad_types:
            n_fail += 1
            print(f"  [FAIL-type] {name}: oracle columns need ::BIGINT cast: {bad_types}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            n_fail += 1
            print(f"  [FAIL-cols] {name}: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            continue
        if len(spark_rows) != len(duck_rows):
            n_fail += 1
            print(f"  [FAIL-rows] {name}: spark={len(spark_rows)} duck={len(duck_rows)}")
            continue
        a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
        if a != b:
            n_fail += 1
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"  [FAIL-vals] {name}: first diffs {diffs}")
            continue
        n_pass += 1
        print(f"  [ok       ] {name}: rows={len(spark_rows)}")

    print(f"\npass={n_pass} fail={n_fail} rows_only={n_noracle}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
