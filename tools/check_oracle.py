#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run graft.Verify output
against DuckDB oracle SQL on the same parquet tables, compare row counts,
schemas (column names), and exact values (columns sorted by name, rows
sorted). Strictest interpretation — exact equality, no FP tolerance.

Usage: python tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    # a query with an oracle but no dump failed before it could write
    dumped = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")}
    for name in sorted(set(oracle) - dumped):
        print(f"FAIL {name}: no dump (the query failed)")
        n_fail += 1
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
        if name not in oracle:
            n_noracle += 1
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            ok = False
        elif len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            ok = False
        else:
            g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
            e = exp[sorted(exp.columns)].sort_values(sorted(exp.columns)).reset_index(drop=True)
            for c in g.columns:
                gc, ec = g[c], e[c]
                try:
                    same = (gc.astype(str) == ec.astype(str)).all()
                except Exception:
                    same = False
                if not same:
                    bad = (gc.astype(str) != ec.astype(str))
                    i = bad.idxmax()
                    print(f"FAIL {name}: col {c} differs at row {i}: got={gc[i]!r} exp={ec[i]!r} "
                          f"(dtype {gc.dtype} vs {ec.dtype}, {int(bad.sum())} rows differ)")
                    ok = False
                    break
        if ok:
            n_pass += 1
            print(f"  PASS {name}: {len(got)} rows")
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
