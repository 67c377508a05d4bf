#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

Each query's result is reduced to the sha256 of its column names and
types plus its rows, rendered one per line and sorted (row order is not
part of a result). Prints every query whose digest differs or that is
missing from one side, then a summary line; exits 1 if any query was
printed, 0 otherwise.

Usage: python3 tools/diff_verify.py <dirA> <dirB>
(each dir as written by `sbt "runMain graft.Verify <sfDir> <dir>"`)
"""
import glob
import hashlib
import os
import sys

import duckdb


def results(d):
    """Query name -> its result parquet files, for one dump dir."""
    out = {}
    for sub in sorted(os.listdir(d)):
        files = sorted(glob.glob(os.path.join(d, sub, "*.parquet")))
        if os.path.isdir(os.path.join(d, sub)):
            out[sub] = files
    return out


def digest(con, files):
    if not files:
        return "no parquet"
    rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
    h = hashlib.sha256()
    h.update(repr([(c[0], c[1]) for c in rel.description]).encode())
    for line in sorted(repr(r) for r in rel.fetchall()):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(a, b):
    con = duckdb.connect()
    ra, rb = results(a), results(b)
    bad = 0
    for name in sorted(set(ra) | set(rb)):
        if name not in ra or name not in rb:
            print(f"MISSING {name}: only in {a if name in ra else b}")
            bad += 1
            continue
        da, db = digest(con, ra[name]), digest(con, rb[name])
        if da != db:
            print(f"DIFFERS {name}: {da[:16]} != {db[:16]}")
            bad += 1
    print(f"{len(set(ra) | set(rb)) - bad} identical, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
