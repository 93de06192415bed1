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

It also compares the two outputs' `oracle_sql.json`: the same set of
oracle names, and identical SQL text for each name.

Prints one line per differing or one-sided query and per differing or
one-sided oracle text, then the summary lines `<n> queries compared, <d>
differ` and `<n> oracle texts compared, <d> differ`. The exit status is
the number of differences of both kinds (capped at 255): 0 when the two
outputs agree.
"""
import json
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


def oracle_diff(a, b):
    """Compare the oracle_sql.json of outputs a and b; print each oracle
    name whose SQL text differs or exists on one side only, and return
    (names compared, names differing)."""
    oa = json.loads((Path(a) / "oracle_sql.json").read_text())
    ob = json.loads((Path(b) / "oracle_sql.json").read_text())
    names = oa.keys() | ob.keys()
    n_diff = 0
    for name in sorted(names):
        if name not in oa or name not in ob:
            side = a if name not in oa else b
            print(f"ORACLE {name}: missing from {side}")
        elif oa[name] != ob[name]:
            print(f"ORACLE {name}: SQL text differs")
        else:
            continue
        n_diff += 1
    return len(names), n_diff


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
    n_oracles, n_oracle_diff = oracle_diff(sys.argv[1], sys.argv[2])
    print(f"{n_oracles} oracle texts compared, {n_oracle_diff} differ")
    sys.exit(min(n_diff + n_oracle_diff, 255))


if __name__ == "__main__":
    main()
