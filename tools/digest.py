#!/usr/bin/env python3
"""Compare two Verify output dirs by a sorted-row digest per query output.

For every query output (a parquet directory written by graft.Verify) in
either dir, DuckDB renders each row as JSON text, sorts the rows, and hashes
them together with the column names and types (columns in name order). Row order
and file layout therefore do not matter; any value, row-count or schema
difference does. Prints each name whose digests differ, or that exists on
one side only, then a summary line.

Usage: python3 tools/digest.py <outdirA> <outdirB>
Exit status: 0 iff every output is identical.
"""
import hashlib
import os
import sys

import duckdb


def outputs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def quote(ident):
    return '"' + ident.replace('"', '""') + '"'


def digest(con, path):
    src = "read_parquet('" + os.path.join(path, "*.parquet").replace("'", "''") + "')"
    cols = sorted((r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
    row = "{" + ", ".join(f"'{n.replace(chr(39), chr(39) * 2)}': {quote(n)}" for n, _ in cols) + "}"
    rows = con.sql(
        f"SELECT count(*), coalesce(md5(string_agg(r, chr(10) ORDER BY r)), '') "
        f"FROM (SELECT CAST(to_json({row}) AS VARCHAR) AS r FROM {src})").fetchone()
    return hashlib.md5(repr((cols, rows)).encode()).hexdigest()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    names = sorted(outputs(a) | outputs(b))
    differ = []
    for name in names:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not (os.path.isdir(pa) and os.path.isdir(pb)):
            differ.append((name, "missing on one side"))
            continue
        try:
            da, db = digest(con, pa), digest(con, pb)
        except Exception as e:  # an unreadable output is a difference, not a crash
            differ.append((name, f"read error: {e}"))
            continue
        if da != db:
            differ.append((name, f"{da} != {db}"))
    for name, why in differ:
        print(f"DIFF {name}: {why}")
    print(f"{len(names) - len(differ)}/{len(names)} outputs identical")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
