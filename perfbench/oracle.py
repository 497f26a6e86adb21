"""Compare query results dumped by the harness against SparkEntry.oracleSql
replayed in DuckDB over the same parquet tables (the gate tools/check.py
applies): column names, row count, and exact values after sorting columns
by name and rows by value. A query without an oracle whose name ends in
`_approx` is checked on row count against its exact twin.
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _frame(con, path):
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()


def check(tables_dir, out_dir, names):
    """Returns {query name: None if it passed, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for name in names:
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            result[name] = "no spark output"
            continue
        sdf = _frame(con, spark_dir)
        if name not in oracle:
            twin = name[:-len("_approx")] if name.endswith("_approx") else None
            if twin is None or not os.path.isdir(os.path.join(out_dir, twin)):
                result[name] = "no oracle"
            else:
                n_twin = len(_frame(con, os.path.join(out_dir, twin)))
                result[name] = None if len(sdf) == n_twin else \
                    f"rows {len(sdf)} != exact twin {n_twin}"
            continue
        try:
            odf = con.execute(oracle[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            result[name] = f"oracle error: {str(e)[:160]}"
            continue
        oc, sc = sorted(odf.columns), sorted(sdf.columns)
        if oc != sc:
            result[name] = f"columns oracle={oc} spark={sc}"
            continue
        o = odf[oc].sort_values(oc).reset_index(drop=True)
        s = sdf[sc].sort_values(sc).reset_index(drop=True)
        if len(o) != len(s):
            result[name] = f"rows oracle={len(o)} spark={len(s)}"
            continue
        bad = [c for c in oc if o[c].tolist() != s[c].tolist()]
        result[name] = f"values differ in {bad[:3]}" if bad else None
    return result
