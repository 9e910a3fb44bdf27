#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps entry by entry.

    python3 scripts/verify_diff.py PARENT_OUT CHANGE_OUT

Each dump holds one parquet directory per catalog entry. For every entry
in either dump, the script compares the schema (column names, types and
nullability), the row count and the rows in order, and prints one line:
`identical`, or the first difference it found. Floats compare by their
exact bits, so NaN equals NaN and -0.0 differs from 0.0. Exits 1 if any
entry differs or is missing from one side, else 0.
"""
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def entries(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def load(out, name):
    files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def schema(table):
    return [(f.name, str(f.type), f.nullable) for f in table.schema]


def exact(v):
    """A value with floats replaced by their bit patterns, recursively."""
    if isinstance(v, float):
        return ("float", v.hex())
    if isinstance(v, dict):
        return tuple((k, exact(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(exact(x) for x in v)
    return v


def compare(a, b):
    """None if the two tables are identical, else the first difference."""
    if schema(a) != schema(b):
        return f"schema {schema(a)} vs {schema(b)}"
    if a.num_rows != b.num_rows:
        return f"row count {a.num_rows} vs {b.num_rows}"
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if exact(ra) != exact(rb):
            return f"row {i}: {ra} vs {rb}"
    return None


def main(parent, change):
    differ = 0
    for name in sorted(entries(parent) | entries(change)):
        a, b = load(parent, name), load(change, name)
        if a is None or b is None:
            side = "parent" if a is None else "change"
            print(f"{name}: DIFFERS: no output in the {side} dump")
            differ += 1
            continue
        diff = compare(a, b)
        if diff is None:
            print(f"{name}: identical ({a.num_rows} rows)")
        else:
            print(f"{name}: DIFFERS: {diff}")
            differ += 1
    print(f"{differ} of {len(entries(parent) | entries(change))} entries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
