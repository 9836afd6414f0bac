#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 scripts/check.py [sfDir] [outDir]

Reads outDir/<name>/ parquet (written by graft.Verify) and outDir/oracle_sql.json,
runs each oracle in DuckDB with views over sfDir's tables, and compares:
column names (sorted), dtypes, row count, and exact values. Dev tool only —
not part of the Scala library.

DuckDB runs with a memory limit of half the machine's MemTotal and spills
to outDir/duckdb_tmp, so an oracle that needs more memory spills, or fails
as one FAIL line, instead of getting the whole process killed. The limit
bounds DuckDB's buffer manager, not every allocation: q217 peaks near
10.9 GB resident under an 8 GB limit on a 16 GB machine.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def memory_limit():
    """Half of MemTotal as a DuckDB size string, or None if it is unknown."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}MB"
    except OSError:
        pass
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    limit = memory_limit()
    if limit:
        con.execute(f"SET memory_limit='{limit}'")
    con.execute(f"SET temp_directory='{os.path.join(out_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        try:
            want = con.sql(oracle[name])
            want_cols = list(want.columns)
            want_types = [str(t) for t in want.types]
            want_rows = want.fetchall()
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = list(got.columns)
            got_types = [str(t) for t in got.types]
            got_rows = got.fetchall()
            errs = []
            # The driver's comparator sorts rows with pandas, which cannot
            # hash list/struct cells — any nested output type fails the gate
            # even for rows-only queries. Keep every output column atomic.
            nested = [f"{c}:{t}" for c, t in zip(got_cols, got_types)
                      if "[" in t or "STRUCT" in t or "MAP" in t]
            if nested:
                errs.append(f"nested output columns (driver-unsortable): {nested}")
            if sorted(want_cols) != sorted(got_cols):
                errs.append(f"cols want={want_cols} got={got_cols}")
            else:
                # reorder got columns to oracle order for value compare
                if want_cols != got_cols:
                    idx = [got_cols.index(c) for c in want_cols]
                    got_rows = [tuple(r[i] for i in idx) for r in got_rows]
                    got_types = [got_types[i] for i in idx]
                if want_types != got_types:
                    errs.append(f"types want={want_types} got={got_types}")
            if len(want_rows) != len(got_rows):
                errs.append(f"rowcount want={len(want_rows)} got={len(got_rows)}")
            elif not errs:
                n_bad = 0
                first = None
                for i, (w, g) in enumerate(zip(want_rows, got_rows)):
                    if w != g:
                        n_bad += 1
                        if first is None:
                            first = (i, w, g)
                if n_bad:
                    errs.append(f"{n_bad}/{len(want_rows)} rows differ; first at {first[0]}: want={first[1]} got={first[2]}")
            if errs:
                n_fail += 1
                print(f"FAIL {name}: " + "; ".join(errs))
            else:
                n_pass += 1
                print(f"PASS {name} ({len(want_rows)} rows)")
        except Exception as e:
            n_fail += 1
            print(f"FAIL {name}: exception {str(e).splitlines()[0]}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
