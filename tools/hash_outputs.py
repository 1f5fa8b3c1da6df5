#!/usr/bin/env python3
"""Compare two graft.Verify output directories output by output.

Usage: tools/hash_outputs.py OUT_A OUT_B

For every query output (a sub-directory of parquet files) in either
directory, reads it through DuckDB and hashes its schema and its rows:
  - schema: the column names and types in order, plus each parquet leaf's
    physical type, logical type and repetition (so a nullability change
    shows);
  - rows: each row's repr, sorted, so partitioning and row order do not
    count.
Prints one line per output (`same`, `DIFF`, `ONLY_A`, `ONLY_B`, with both
row counts and sha256 digests) and a summary, and exits 1 on any difference.
"""
import glob
import hashlib
import os
import sys

import duckdb


def outputs(root):
    return {os.path.basename(d) for d in glob.glob(f"{root}/*") if os.path.isdir(d)}


def digest(con, d):
    files = f"{d}/*.parquet"
    h = hashlib.sha256()
    try:
        cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()
        leaves = con.execute(
            "SELECT DISTINCT name, type, converted_type, logical_type, repetition_type "
            f"FROM parquet_schema('{files}') ORDER BY ALL").fetchall()
        rows = con.execute(f"SELECT * FROM read_parquet('{files}')").fetchall()
    except duckdb.Error as e:
        return "unreadable: " + str(e).splitlines()[0]
    h.update(repr([(c[0], c[1]) for c in cols]).encode())
    h.update(repr(leaves).encode())
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)} rows {h.hexdigest()}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    names_a, names_b = outputs(a), outputs(b)
    n_diff = 0
    for name in sorted(names_a | names_b):
        ha = digest(con, f"{a}/{name}") if name in names_a else None
        hb = digest(con, f"{b}/{name}") if name in names_b else None
        if ha is None or hb is None:
            status = "ONLY_B" if ha is None else "ONLY_A"
        else:
            status = "same" if ha == hb and not ha.startswith("unreadable") else "DIFF"
        n_diff += status != "same"
        print(f"{status:6} {name}: {ha} | {hb}")
    print(f"{len(names_a | names_b) - n_diff} same, {n_diff} different")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
