#!/usr/bin/env python3
"""Compare two graft.Trace files (one JSON line per query tag).

    python3 tools/trace_diff.py old.jsonl new.jsonl [tag ...]

Prints, per tag present in either file, the old and new value and the change
of actions, jobs, wall_ms, gap_ms and compiles (classes the code generator
compiled; a JVM-global count), then the totals over the tags both files hold.
Tags named on the command line restrict the table (not the totals' meaning:
the totals cover the listed tags only). A tag missing from one file shows "-"
on that side and is left out of the totals; so is a field missing from one
side's line (a trace written before that field existed).

First it prints each file's host calibration (graft.Trace's first line, the
Bench calibration probe median in seconds; "-" for a file without one) and
their ratio new/old: a ratio far from 1 means the walls differ by host load
as well as by code. The calibration is not a tag and is in no total.
"""
import json
import sys

FIELDS = ("actions", "jobs", "wall_ms", "gap_ms", "compiles")


def load(path):
    """(rows by tag, calibration seconds or None)."""
    rows, calib = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                r = json.loads(line)
                if "calibration_s" in r:
                    calib = r["calibration_s"]
                else:
                    rows[r["tag"]] = r
    return rows, calib


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.1f}" if isinstance(v, float) else str(v)


def cell(old, new):
    if old is None or new is None:
        return f"{fmt(old)} -> {fmt(new)}"
    d = new - old
    sign = "+" if d > 0 else ""
    return f"{fmt(old)} -> {fmt(new)} ({sign}{fmt(d)})"


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (old, old_calib), (new, new_calib) = load(argv[1]), load(argv[2])
    ratio = f"{new_calib / old_calib:.2f}" if old_calib and new_calib else "-"
    secs = [("-" if c is None else f"{c:.3f}") for c in (old_calib, new_calib)]
    print(f"calibration_s  {secs[0]} -> {secs[1]}  (ratio new/old {ratio})")
    tags = argv[3:] or sorted(set(old) | set(new))
    width = max([len(t) for t in tags] + [5])
    print(f"{'tag':<{width}}  " + "  ".join(f"{f:<26}" for f in FIELDS))
    totals = {}
    for t in tags:
        o, n = old.get(t, {}), new.get(t, {})
        print(f"{t:<{width}}  " + "  ".join(
            f"{cell(o.get(f), n.get(f)):<26}" for f in FIELDS))
        for f in FIELDS:
            if f in o and f in n:
                a, b = totals.get(f, (0, 0))
                totals[f] = (a + o[f], b + n[f])
    print(f"{'total':<{width}}  " + "  ".join(
        f"{cell(*[round(x, 1) if isinstance(x, float) else x for x in totals.get(f, (None, None))]):<26}"
        for f in FIELDS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
