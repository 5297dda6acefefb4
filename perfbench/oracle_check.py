#!/usr/bin/env python3
"""Cross-checks the engine workload against DuckDB, once per change of
the engine queries or tables (not part of a timed run).

Runs every engine query in Spark over the generated tables, runs the
query's `SparkEntry.oracleSql` in DuckDB over the same parquet files, and
compares the two results: columns sorted by name, rows sorted, floats to
nine significant digits. Also prints each result's signature next to the
committed one in engine_expected.json.

    python3 perfbench/oracle_check.py        # from the repository root
"""
import glob
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    return v


def main():
    import duckdb
    build.build()
    tables = run.tables()
    out = os.path.abspath(os.path.join(build.BUILD, "oracle"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp"]
    for p in run.JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.OracleDump", tables, out]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    expected = json.load(open(os.path.join(HERE, "engine_expected.json")))
    failed = 0
    for sql_path in sorted(glob.glob(f"{out}/*.sql")):
        q = os.path.basename(sql_path)[:-4]
        exp = con.execute(open(sql_path).read()).fetch_arrow_table()
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')").fetch_arrow_table()
        cols = sorted(exp.column_names)
        same = cols == sorted(got.column_names)
        if same:
            rows = [sorted((tuple(norm(r[c]) for c in cols) for r in t.to_pylist()), key=str)
                    for t in (exp, got)]
            same = rows[0] == rows[1]
        failed += not same
        print(f"{'PASS' if same else 'FAIL'} {q}: duckdb {exp.num_rows} rows, spark {got.num_rows} rows")
        print(f"  signature {open(f'{out}/{q}.signature').read()}")
        print(f"  committed {expected.get(q)}")
    shutil.rmtree(out, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
