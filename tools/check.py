#!/usr/bin/env python3
"""Dev-loop oracle checker mirroring the driver's compare: for each query
output parquet under OUTDIR, run the matching oracle SQL in DuckDB over the
sf tables, sort columns by name, and compare row-by-row.

Usage: python3 tools/check.py <sfDir> <outDir>
"""
import atexit
import json
import math
import os
import shutil
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def oracle_connection():
    """In-memory DuckDB that spills to a scratch directory under /tmp
    instead of failing: without a temp_directory an in-memory database
    cannot spill, so a large oracle (p33_release_diff at sf0.01 on a
    16 GB host) dies with "Out of Memory Error". The memory limit is
    half of host memory, leaving the rest to the OS and other work."""
    spill = tempfile.mkdtemp(prefix="duckdb_oracle_spill_", dir="/tmp")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    host_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return duckdb.connect(config={"memory_limit": f"{host_mib // 2}MiB",
                                  "temp_directory": spill})


def main(sf_dir, out_dir):
    con = oracle_connection()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = sorted(got.columns)
            got_rows = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in got_cols) +
                f" FROM '{out_dir}/{name}/*.parquet'").fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_bad += 1
            continue
        try:
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            exp_rows = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in exp_cols) +
                f" FROM ({sql})").fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle errored: {e}")
            n_bad += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
            n_bad += 1
            continue
        g = ["|".join(canon(v) for v in r) for r in got_rows]
        e = ["|".join(canon(v) for v in r) for r in exp_rows]
        if g == e:
            print(f"OK   {name}: {len(g)} rows")
            n_ok += 1
        else:
            n_bad += 1
            if sorted(g) == sorted(e):
                print(f"FAIL {name}: same multiset, different ROW ORDER "
                      f"({len(g)} rows)")
            else:
                print(f"FAIL {name}: {len(g)} vs {len(e)} rows; first diffs:")
                gs, es = set(g), set(e)
                for x in list(gs - es)[:3]:
                    print(f"  spark-only: {x[:200]}")
                for x in list(es - gs)[:3]:
                    print(f"  oracle-only: {x[:200]}")
    print(f"== {n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
