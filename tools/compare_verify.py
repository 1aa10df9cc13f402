#!/usr/bin/env python3
"""Gate-by-gate equality of two `graft.Verify` output directories.

Usage: python3 tools/compare_verify.py <verifyOutA> <verifyOutB>

For every gate directory (`<out>/<gate>/*.parquet`) present in either
output, compares the schema (column names and types), the row count, the
rows as a multiset and their order (part files in name order, rows in
file order). Floats compare bit-exactly (hex form: -0.0 differs from
0.0, NaN equals NaN). Prints one line per differing gate and a summary;
exit 1 when any gate differs or exists on one side only.
"""
import decimal
import glob
import os
import sys

import duckdb


def norm(v):
    """A hashable, exactly comparable form of one DuckDB cell."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return ("s",) + tuple((k, norm(x)) for k, x in v.items())
    return (type(v).__name__, v)


def gates(out_dir):
    return {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{out_dir}/*/")
            if not os.path.basename(d.rstrip("/")).startswith(("_", "."))}


def read_gate(con, gate_dir):
    """(schema, rows) of one gate; files in name order, rows in file order."""
    schema, rows = None, []
    for f in sorted(glob.glob(f"{gate_dir}/*.parquet")):
        rel = con.sql(f"SELECT * FROM read_parquet('{f}')")
        s = list(zip(rel.columns, (str(t) for t in rel.types)))
        if schema is None:
            schema = s
        elif s != schema:
            return ("inconsistent part schemas", s), []
        rows.extend(tuple(norm(c) for c in r) for r in rel.fetchall())
    return schema, rows


def diff(con, a_dir, b_dir):
    """None when the gate outputs are identical, else the first difference."""
    sa, ra = read_gate(con, a_dir)
    sb, rb = read_gate(con, b_dir)
    if sa != sb:
        return f"schema {sa} vs {sb}"
    if len(ra) != len(rb):
        return f"row count {len(ra)} vs {len(rb)}"
    if ra != rb:
        return "order" if sorted(ra) == sorted(rb) else "rows"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    ga, gb = gates(a), gates(b)
    bad = []
    for g in sorted(ga | gb):
        if g not in gb or g not in ga:
            bad.append((g, f"only in {a if g in ga else b}"))
            continue
        d = diff(con, f"{a}/{g}", f"{b}/{g}")
        if d:
            bad.append((g, d))
    for g, why in bad:
        print(f"DIFF {g}: {why}")
    print(f"{len(ga | gb) - len(bad)}/{len(ga | gb)} gates identical")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
