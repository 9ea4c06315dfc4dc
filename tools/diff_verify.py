#!/usr/bin/env python3
"""Output equality of two graft.Verify runs (for example a parent commit
and a change).

Usage: python3 tools/diff_verify.py <verifyOutA> <verifyOutB>

For every query directory in either output it compares the sorted column
names and the canonical sorted rows (tools/canon.py, the form
compare_oracle.py hashes). Prints one status per query and
`== N/M equal`; exits 1 on any difference or on a query missing from
either side.
"""
import glob, os, sys
import duckdb
from canon import canon


def query_dirs(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def rows_of(con, out_dir, name):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return None, None
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    cols = sorted(rel.columns)
    return cols, canon(rel, cols)


def main(a_dir, b_dir):
    con = duckdb.connect()
    names = sorted(query_dirs(a_dir) | query_dirs(b_dir))
    statuses = {}
    for name in names:
        ca, ra = rows_of(con, a_dir, name)
        cb, rb = rows_of(con, b_dir, name)
        if ca is None or cb is None:
            statuses[name] = "MISSING in " + ("A" if ca is None else "B")
        elif ca != cb:
            statuses[name] = f"COLUMNS a={ca} b={cb}"
        elif ra != rb:
            diffs = [i for i, (x, y) in enumerate(zip(ra, rb)) if x != y]
            first = diffs[0] if diffs else min(len(ra), len(rb))
            statuses[name] = (f"ROWS a={len(ra)} b={len(rb)}, "
                              f"{len(diffs)} differ; first@{first}")
        else:
            statuses[name] = f"EQUAL({len(ra)})"
    for k, v in statuses.items():
        print(f"{k:24s} {v}")
    n_eq = sum(1 for v in statuses.values() if v.startswith("EQUAL"))
    print(f"== {n_eq}/{len(statuses)} equal")
    return 0 if n_eq == len(statuses) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
