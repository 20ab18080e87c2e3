#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB with
the sf tables registered as views, sorts columns by name and rows by
value, and compares exactly. Dev-only tool — the shipped library does
not depend on it.
"""
import json
import math
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exact-match requirement
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    import numpy as np
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canon(x) for x in v.tolist()) + "]"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.floating,)):
        return canon(float(v))
    return repr(v)


def frame_key(df):
    df = df[sorted(df.columns)]
    # The driver harness row-sorts with pandas sort_values, which raises
    # "unhashable type" on array-valued cells. Run the same sort here so a
    # query that would fail the driver gate fails this mirror too, instead
    # of being silently rescued by canon()'s array stringification.
    df = df.sort_values(by=list(df.columns))
    rows = ["|".join(canon(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def materialized(sql):
    """The oracle SQL with every CTE marked MATERIALIZED, as
    perfbench/run.py runs it. DuckDB 1.0 inlines a CTE at each
    reference, so chains of CTEs that each read the previous one twice
    (t43's) run out of memory at sf0.01; the marker changes how a CTE
    is evaluated, not its rows. Only a `name AS (` whose body opens a
    query is a CTE: `WINDOW w AS (PARTITION BY ...)` is left alone."""
    return re.sub(r"\b(\w+) AS \((?=\s*(?:SELECT|WITH|VALUES|FROM)\b)",
                  r"\1 AS MATERIALIZED (", sql, flags=re.IGNORECASE)


def connect(sf_dir):
    """A fresh in-memory DuckDB with the sf tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        # One connection per query: DuckDB 1.0.0 segfaulted when all
        # ~160 oracle queries ran through one connection.
        con = connect(sf_dir)
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(materialized(sql)).df()
            gk, wk = frame_key(got), frame_key(want)
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            if gcols != wcols:
                print(f"FAIL {name}: columns {gcols} != {wcols}")
                n_fail += 1
            elif gk != wk:
                n_fail += 1
                print(f"FAIL {name}: rows {len(gk)} vs {len(wk)}")
                wk_set, gk_set = set(wk), set(gk)
                diff_g = [r for r in gk if r not in wk_set][:3]
                diff_w = [r for r in wk if r not in gk_set][:3]
                for d in diff_g:
                    print(f"  spark-only: {d[:200]}")
                for d in diff_w:
                    print(f"  oracle-only: {d[:200]}")
            else:
                print(f"PASS {name} ({len(gk)} rows)")
                n_pass += 1
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"ERROR {name}: {e}")
        finally:
            con.close()
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
