#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Registers each testdata parquet as a view named after the table, runs every
oracle_sql.json entry, reads the Spark parquet output for the same query, and
compares: row count, sorted-by-column-name schema, and a hash over the
stringified values of rows (both sides sorted by all columns). Mirrors the
published contract in the builder prompt; exact driver internals may differ,
but any mismatch here is a real parity bug worth fixing.
"""
import sys, json, duckdb, glob, os
from canon import canon

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    statuses = {}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            statuses[name] = "NO_SPARK_OUTPUT"
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        if name not in oracles:
            statuses[name] = f"ROWS_ONLY({len(spark_rel.fetchall())})"
            continue
        try:
            oracle_rel = con.sql(oracles[name])
        except Exception as e:
            statuses[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        s_cols = sorted(spark_rel.columns)
        o_cols = sorted(oracle_rel.columns)
        if s_cols != o_cols:
            statuses[name] = f"SCHEMA_MISMATCH spark={s_cols} oracle={o_cols}"
            continue
        try:
            s_rows = canon(spark_rel, s_cols)
            o_rows = canon(oracle_rel, o_cols)
        except Exception as e:
            statuses[name] = f"FETCH_ERROR: {e}"
            continue
        if len(s_rows) != len(o_rows):
            statuses[name] = f"ROWCOUNT spark={len(s_rows)} oracle={len(o_rows)}"
        elif s_rows != o_rows:
            diffs = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
            i = diffs[0]
            statuses[name] = (f"VALUE_MISMATCH {len(diffs)}/{len(s_rows)} rows; "
                              f"first@{i}:\n  spark={s_rows[i]}\n  oracle={o_rows[i]}")
        else:
            statuses[name] = f"OK({len(s_rows)})"
    npass = sum(1 for v in statuses.values() if v.startswith(("OK", "ROWS_ONLY")))
    for k, v in sorted(statuses.items()):
        print(f"{k:24s} {v}")
    print(f"== {npass}/{len(statuses)} pass")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
