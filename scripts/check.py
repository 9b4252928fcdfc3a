#!/usr/bin/env python3
"""Local t2-style correctness check: compare Verify.scala's parquet dumps
against the DuckDB oracle (same protocol as the driver: columns sorted by
name, rows canonically sorted, floats normalized).

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
(Dev-loop tool only — the real gate is the driver's harness.)

<sfDir> is a testdata directory (each table one <t>.parquet file) or a
Spark-written corpus such as the derived 3x fixture under
/tmp/graft_scale (each table a <t>.parquet/ directory of part files).
"""
import json, math, sys, os
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == 0: v = 0.0
        return f"{v:.6g}"
    if isinstance(v, list): return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    for name in names:
        got_rel = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        got_cols = [c[0] for c in got_rel.description]
        got = got_rel.fetchall()
        if name not in oracle:
            print(f"  ~ {name}: rows-only ({len(got)} rows)")
            continue
        try:
            exp_rel = con.execute(oracle[name])
            exp_cols = [c[0] for c in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"  ✗ {name}: ORACLE SQL ERROR: {str(e)[:200]}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"  ✗ {name}: COLS spark={sorted(got_cols)} oracle={sorted(exp_cols)}")
            n_fail += 1
            continue
        g, e = canon(got, got_cols), canon(exp, exp_cols)
        if g == e:
            print(f"  ✓ {name} ({len(got)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"  ✗ {name}: ROWS spark={len(g)} oracle={len(e)}")
            diff = [(a, b) for a, b in zip(g, e) if a != b][:3]
            for a, b in diff:
                print(f"      spark : {a}\n      oracle: {b}")
            only_g = set(g) - set(e); only_e = set(e) - set(g)
            for r in list(only_g)[:2]: print(f"      only-spark : {r}")
            for r in list(only_e)[:2]: print(f"      only-oracle: {r}")
    # a query that failed in Verify has no output dir; Verify records it
    # in errors.json, and each entry counts as a failure
    errors = json.load(open(f"{out_dir}/errors.json"))
    for name, err in sorted(errors.items()):
        print(f"  ✗ {name}: VERIFY {err['class']}: {err['message'][:200]}")
        n_fail += 1
    print(f"PASS {n_pass} FAIL {n_fail} (of {len(names) + len(errors)}, {len(oracle)} oracled)")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
