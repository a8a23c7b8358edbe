#!/usr/bin/env python3
"""Derives the stored oracle checksums perfbench/oracle/<sf>.txt, which the
benchmark checks every output against.

    python3 perfbench/derive_oracle.py

For each stored testdata scale factor (perfbench/data/<sf>) it runs the
program's DuckDB mirror SQL (SparkEntry.oracleSql) of every checked entry
and writes one `entry rows hash` line per entry, the checksum computed by
perfbench/src/Check.scala over DuckDB's result. Needs the duckdb Python
package; re-run it only when an entry's meaning or the stored data changes.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]


def java(classes, *args, **kw):
    return subprocess.run(["java", *build.JVM_OPENS, "-Duser.timezone=UTC", "-cp",
                           build.classpath(classes), "perfbench.Main", *args],
                          check=True, **kw)


def main():
    import duckdb
    classes = build.build()
    work = os.path.join(build.OUT, "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql_file = os.path.join(work, "oracle_sql.json")
    java(classes, "--oracle-sql", sql_file)
    queries = json.load(open(sql_file))
    os.makedirs(os.path.join(HERE, "oracle"), exist_ok=True)
    for sf in sorted(os.listdir(os.path.join(HERE, "data"))):
        out = os.path.join(work, sf)
        os.makedirs(out)
        con = duckdb.connect()
        con.execute("SET threads=2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(HERE, 'data', sf, t)}.parquet')")
        for name, sql in queries.items():
            con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")
        con.close()
        with open(os.path.join(HERE, "oracle", f"{sf}.txt"), "w") as f:
            java(classes, "--checksums", out, stdout=f, stderr=subprocess.DEVNULL)
        print(f"perfbench/oracle/{sf}.txt: {len(queries)} entries")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
