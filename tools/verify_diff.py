#!/usr/bin/env python3
"""Bit-identity check of two graft.Verify dumps (e.g. a parent commit's
and a change's, both at the same scale factor).

    python3 tools/verify_diff.py <dumpA> <dumpB> [query ...]

Each query is a directory of parquet files in both dumps. Without query
names, every query directory of either dump is compared. A query is the
same when both sides have the same arrow schema (names, types,
nullability), the same number of rows, and the same rows in the same
order, where every floating-point value compares by its bit pattern:
-0.0 differs from 0.0, and one NaN payload from another.
`tools/check_oracle.py` rounds doubles to 9 dp for its DuckDB compare, so
it cannot show this.

Prints one SAME/DIFF line per query and a summary line. Exit status is 0
when every query is the same, 1 otherwise.
"""

import glob
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def bits(v):
    """A value with every float replaced by its IEEE bit pattern."""
    if isinstance(v, float):
        return ("f64", struct.pack(">d", v))
    if isinstance(v, list):
        return [bits(x) for x in v]
    if isinstance(v, tuple):
        return tuple(bits(x) for x in v)
    if isinstance(v, dict):
        return {k: bits(x) for k, x in v.items()}
    return v


def load(dump, name):
    """The query's table (its part files in name order), or None."""
    files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def diff(a, b):
    """None when a and b are the same, else the first difference."""
    if a is None or b is None:
        return "no output in " + ("A" if a is None else "B")
    sa, sb = a.schema.remove_metadata(), b.schema.remove_metadata()
    if not sa.equals(sb):
        return f"schema\n  A: {sa}\n  B: {sb}"
    if a.num_rows != b.num_rows:
        return f"rows A={a.num_rows} B={b.num_rows}"
    names = a.column_names
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        for c in names:
            if bits(ra[c]) != bits(rb[c]):
                return f"row {i} column {c}: A={ra[c]!r} B={rb[c]!r}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    dump_a, dump_b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(
        {n for d in (dump_a, dump_b) for n in os.listdir(d)
         if os.path.isdir(os.path.join(d, n))})
    n_diff = 0
    for name in names:
        a, b = load(dump_a, name), load(dump_b, name)
        why = diff(a, b)
        if why is None:
            print(f"SAME {name} ({a.num_rows} rows)")
        else:
            n_diff += 1
            print(f"DIFF {name}: {why}")
    print(f"{len(names) - n_diff} same / {n_diff} differ")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
