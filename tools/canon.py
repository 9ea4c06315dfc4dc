"""The one canonical form of a query's rows, shared by compare_oracle.py
and diff_verify.py: each row as a tuple of repr'd values in the given
column order, rows sorted."""


def canon(rel, cols):
    idx = {c: i for i, c in enumerate(rel.columns)}
    return sorted(tuple(repr(r[idx[c]]) for c in cols) for r in rel.fetchall())
