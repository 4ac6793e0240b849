#!/usr/bin/env python3
"""Stricter dev-loop checker simulating a pandas-based driver compare:
loads each Spark output parquet and the DuckDB oracle result as pandas
frames, sorts columns by name, sorts rows by all columns, and compares
BOTH dtypes and per-cell hashes. Catches dtype drift (int32 vs int64,
HUGEINT->float64) that repr-based comparison hides.

Usage: python3 tools/pandas_check.py <sfDir> <outDir>
"""
import json
import sys

import pandas as pd

from check import oracle_connection

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


# The driver's row-hash canonicalization is only proven for these
# published types (VERDICT r14: a published DECIMAL(38,0) column failed
# the driver hash while BOTH local checkers passed, because both engines
# agreed on the decimal — the local harness cannot see the driver's
# canonicalization). Decimal/HUGEINT arithmetic is fine INTERNALLY; it
# must be cast to a proven type before publication.
ALLOWED_TYPE_PREFIXES = (
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "DATE", "TIMESTAMP",
    "BOOLEAN")


def published_type_violations(con, query):
    """DESCRIBE the published surface and flag any column type outside
    the driver-proven allowlist (DECIMAL, FLOAT, HUGEINT, BLOB, MAP...).
    List/struct types are unwrapped to their leaf element types."""
    bad = []
    for row in con.sql(f"DESCRIBE {query}").fetchall():
        col, typ = row[0], row[1]
        leaf = typ
        while leaf.endswith("[]"):
            leaf = leaf[:-2]
        if leaf.startswith("STRUCT(") or leaf.startswith("MAP("):
            inner = leaf
            if any(t in inner for t in ("DECIMAL", "HUGEINT", "FLOAT",
                                        "BLOB", "UBIGINT")):
                bad.append((col, typ))
            continue
        if not leaf.upper().startswith(ALLOWED_TYPE_PREFIXES):
            bad.append((col, typ))
    return bad


def main(sf_dir, out_dir):
    con = oracle_connection()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = canon(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            exp = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_bad += 1
            continue
        bad_types = published_type_violations(
            con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        if bad_types:
            print(f"FAIL {name}: published type outside the driver-proven "
                  f"allowlist: {bad_types}")
            n_bad += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != "
                  f"{list(exp.columns)}")
            n_bad += 1
            continue
        if list(got.dtypes) != list(exp.dtypes):
            diffs = [(c, str(got.dtypes[c]), str(exp.dtypes[c]))
                     for c in got.columns if got.dtypes[c] != exp.dtypes[c]]
            print(f"FAIL {name}: dtype mismatch {diffs}")
            n_bad += 1
            continue
        try:
            gh = pd.util.hash_pandas_object(got, index=False)
            eh = pd.util.hash_pandas_object(exp, index=False)
            same = gh.equals(eh)
        except TypeError as e:
            print(f"FAIL {name}: unhashable column: {e}")
            n_bad += 1
            continue
        if same:
            print(f"OK   {name}: {len(got)} rows")
            n_ok += 1
        else:
            print(f"FAIL {name}: hash mismatch over {len(got)} rows")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
