#!/usr/bin/env python3
"""Row-level diff of two `graft.Verify` outputs.

Usage: python3 scripts/verify_diff.py <outA> <outB>

For every query directory in either output (a directory holding the
query's result parquet), compare the schema, the row count and an
order-independent row digest computed in DuckDB: the sum, modulo 2^64,
of a hash of each whole row. Two outputs of the same queries agree when
every query matches; a refactor that must not change results (same
generated SQL, same plans) is checked by diffing the output of the parent
commit against the output of the change.

Prints one line per differing or one-sided query, then a summary line
`<n> queries compared, <d> differ`. Exit status 1 if any query differs.
"""
import sys
from pathlib import Path

import duckdb


def query_dirs(out):
    return {p.name: p for p in Path(out).iterdir()
            if p.is_dir() and any(p.glob("*.parquet"))}


def fingerprint(con, qdir):
    src = f"read_parquet('{qdir}/*.parquet')"
    schema = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
    n, digest = con.sql(
        f"SELECT count(*), sum(hash(t)::HUGEINT) % 18446744073709551616 "
        f"FROM {src} t").fetchone()
    return [(c[0], c[1]) for c in schema], n, digest


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = query_dirs(sys.argv[1]), query_dirs(sys.argv[2])
    con = duckdb.connect()
    n_diff = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            side = sys.argv[1] if name not in a else sys.argv[2]
            print(f"DIFF {name}: missing from {side}")
            n_diff += 1
            continue
        sa, na, da = fingerprint(con, a[name])
        sb, nb, db = fingerprint(con, b[name])
        if sa != sb:
            print(f"DIFF {name}: schema {sa} != {sb}")
        elif na != nb:
            print(f"DIFF {name}: rows {na} != {nb}")
        elif da != db:
            print(f"DIFF {name}: row digest {da} != {db}")
        else:
            continue
        n_diff += 1
    print(f"{len(a.keys() | b.keys())} queries compared, {n_diff} differ")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
