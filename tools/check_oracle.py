#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query parquet
written by graft.Verify, run the oracle SQL in DuckDB over the same testdata
parquet tables and compare (column-name-sorted, row-sorted) values.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

GRAFT_BIGHASH=1 switches to an in-DuckDB compare (count + order-free
row-hash sum + sorted schema, both sides computed by DuckDB with the same
cell normalization the pandas path applies) so multi-million-row outputs
at sf10+ can be differentially checked without materializing them in
Python — the boundary that capped the r12 sf10 sweep at the 108
small-output queries. Validated against the pandas path at sf0.01 (both
modes must agree OK on the full surface).
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def norm_rows(cols, rows):
    # Mirror the DRIVER's comparator exactly: pandas frame, columns sorted by
    # name, rows sorted with DataFrame.sort_values over all columns.  This is
    # deliberately NOT a tolerant Python-tuple sort — array-typed cells must
    # crash here exactly as they crash in the driver (numpy.ndarray is
    # unhashable), so a local "N ok" means the same thing as the driver's.
    df = pd.DataFrame(rows, columns=cols)
    df = df[sorted(df.columns)]
    if len(df.columns) > 0:
        df = df.sort_values(by=list(df.columns))
    out = [tuple(norm_cell(v) for v in row)
           for row in df.itertuples(index=False, name=None)]
    out.sort()
    return list(df.columns), out


def norm_sql(col, typ):
    """DuckDB expression mirroring norm_cell for one output column."""
    t = typ.upper()
    q = '"' + col.replace('"', '""') + '"'
    if "[]" in t or "STRUCT" in t or "MAP" in t or "LIST" in t:
        # nested cells (never in driver-compared outputs — the driver's
        # pandas comparator crashes on arrays by design — but a bighash of
        # an intermediate file may carry vector columns)
        e = f"CAST({q} AS VARCHAR)"
    elif "DOUBLE" in t or "FLOAT" in t or t == "REAL":
        e = f"printf('%.10g', {q})"
    elif t == "BOOLEAN":
        e = f"CASE WHEN {q} THEN 'true' ELSE 'false' END"
    else:
        e = f"CAST({q} AS VARCHAR)"
    # no COALESCE: bighash hashes a LIST of cells, where a real NULL hashes
    # differently from the string 'NULL' (and list boundaries are type-safe,
    # so a cell containing the 0x1F byte cannot alias a cell boundary the
    # way the old concat_ws(chr(31), ...) scheme could)
    return e


def bighash(con, sql):
    """(sorted cols, row count, order-free multiset hash) for a query,
    computed entirely inside DuckDB."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) q LIMIT 0").fetchall()
    cols = sorted((d[0], d[1]) for d in desc)
    exprs = ", ".join(norm_sql(c, t) for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), sum(hash([{exprs}]))"
        f" FROM ({sql}) q").fetchall()[0]
    return [c for c, _ in cols], n, h


def main(outdir, sfdir):
    con = duckdb.connect()
    # big unrolled chains (pagerank/hits at sf1+) spill aggressively with
    # the default 80%-of-RAM limit on hosts where /root has less free disk
    # than RAM; cap memory high but explicit, and point spill at the
    # roomiest tmp (r12: three sf1 oracles died ENOSPC mid-spill)
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.isdir(p):  # ScaleGen output: a directory of part files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    use_bighash = os.environ.get("GRAFT_BIGHASH") == "1"
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"MISSING  {name} (no spark output)")
            n_bad += 1
            continue
        if use_bighash:
            try:
                dc, dn, dh = bighash(con, sql)
            except Exception as e:
                print(f"ORAERR   {name}: {e}")
                n_bad += 1
                continue
            sc, sn, sh = bighash(con, f"SELECT * FROM read_parquet({files!r})")
            if dc != sc:
                print(f"SCHEMA   {name}: spark={sc} duck={dc}")
                n_bad += 1
            elif (dn, dh) != (sn, sh):
                print(f"ROWS     {name}: spark=({sn},{sh}) duck=({dn},{dh})")
                n_bad += 1
            else:
                n_ok += 1
                print(f"OK       {name} ({sn} rows, bighash)")
            continue
        try:
            duck = con.execute(sql)
            d_cols = [d[0] for d in duck.description]
            d_rows = duck.fetchall()
        except Exception as e:
            print(f"ORAERR   {name}: {e}")
            n_bad += 1
            continue
        sp = con.execute(f"SELECT * FROM read_parquet({files!r})")
        s_cols = [d[0] for d in sp.description]
        s_rows = sp.fetchall()
        dc, dr = norm_rows(d_cols, d_rows)
        sc, sr = norm_rows(s_cols, s_rows)
        if dc != sc:
            print(f"SCHEMA   {name}: spark={sc} duck={dc}")
            n_bad += 1
        elif dr != sr:
            n_bad += 1
            diffs = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
            print(f"ROWS     {name}: spark={len(sr)} duck={len(dr)} first_diffs={diffs[:3]}")
            for i in diffs[:2]:
                print(f"  spark[{i}]: {sr[i]}")
                print(f"  duck [{i}]: {dr[i]}")
            if len(sr) != len(dr):
                only_s = set(sr) - set(dr)
                only_d = set(dr) - set(sr)
                for r in list(only_s)[:2]:
                    print(f"  only-spark: {r}")
                for r in list(only_d)[:2]:
                    print(f"  only-duck : {r}")
        else:
            n_ok += 1
            print(f"OK       {name} ({len(sr)} rows)")
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
