#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [--json <out.json>]

For each query dumped by graft.Verify into <verifyOutDir>/<name>/ (parquet),
runs the matching SQL from oracle_sql.json in DuckDB against the raw tables
in <sfDir>, then compares: column names (sorted), row count, and the full
multiset of values (rows sorted by all columns, exact equality — floats
compared bit-for-bit, which is the strictest possible driver behavior).

With --json, also writes a per-query record in the driver's
CORRECTNESS_r{N}.json schema ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}) so the repo can commit a builder-side
CORRECTNESS_local artifact at every round close — the defense against the
r8/r10/r11 zeroed driver gates.
"""
import sys, json, glob, os
import duckdb

def canon(rel):
    cols = sorted(rel.columns)
    rows = rel.df()[cols].values.tolist()
    def key(r):
        return [(nullish(v), str(v)) for v in r]
    return cols, sorted(rows, key=key)

def nullish(v):
    return v is None or (isinstance(v, float) and v != v)

def same(x, y):
    # pandas reads a NULL in a numeric column as NaN, and nan != nan:
    # NULL on both sides is a match, every other value compares exactly
    return (nullish(x) and nullish(y)) or x == y

def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    report = {}
    def rec(name, rows_match=False, schema_match=False, hash_match=False,
            spark_rows=None, oracle_rows=None, err=None):
        report[name] = {"rows_match": rows_match, "schema_match": schema_match,
                        "hash_match": hash_match, "spark_rows": spark_rows,
                        "oracle_rows": oracle_rows, "err": err}
    for name in sorted(oracle):
        sql = oracle[name]
        spark_glob = f"{out_dir}/{name}/*.parquet"
        if not glob.glob(spark_glob):
            print(f"FAIL {name}: no spark output"); n_fail += 1
            rec(name, err="no spark output"); continue
        try:
            oc, orows = canon(con.sql(sql))
            sc, srows = canon(con.sql(f"SELECT * FROM '{spark_glob}'"))
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1
            rec(name, err=str(e)[:200]); continue
        if oc != sc:
            print(f"FAIL {name}: cols oracle={oc} spark={sc}"); n_fail += 1
            rec(name, spark_rows=len(srows), oracle_rows=len(orows)); continue
        if len(orows) != len(srows):
            print(f"FAIL {name}: rows oracle={len(orows)} spark={len(srows)}"); n_fail += 1
            rec(name, schema_match=True, spark_rows=len(srows), oracle_rows=len(orows)); continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(orows, srows))
               if not all(same(x, y) for x, y in zip(a, b))]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(orows)} rows differ; first at {i}:\n  oracle={a}\n  spark ={b}")
            n_fail += 1
            rec(name, rows_match=True, schema_match=True,
                spark_rows=len(srows), oracle_rows=len(orows))
        else:
            print(f"PASS {name} ({len(orows)} rows)"); n_pass += 1
            rec(name, rows_match=True, schema_match=True, hash_match=True,
                spark_rows=len(srows), oracle_rows=len(orows))
    print(f"== {n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {json_out} ({len(report)} queries)")
    return 1 if n_fail else 0

if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(
        description="strict DuckDB-vs-Spark result compare")
    ap.add_argument("sf_dir", help="parquet table dir (e.g. /root/testdata/sf0.01)")
    ap.add_argument("out_dir", help="Verify output dir (<name>.parquet + oracle_sql.json)")
    ap.add_argument("--json", dest="json_out", default=None,
                    help="write the per-query report here")
    ns = ap.parse_args()
    sys.exit(main(ns.sf_dir, ns.out_dir, ns.json_out))
