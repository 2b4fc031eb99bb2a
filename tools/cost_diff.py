#!/usr/bin/env python3
"""Compare the per-query job, task and compile counts of two Bench records.

    python3 tools/cost_diff.py A B

A and B are each a Bench record: a `bench_full.json`, or the stderr of a
named run (`runMain graft.Bench <name>...`) saved to a file, whose record is
the one JSON line carrying "costs" among the log lines. For every query in
either record the script compares `costs[q].jobs` and `costs[q].tasks`,
prints each difference and each query present on one side only, and exits
1 if there is any (0 when the counts agree on every query; 2 on an
unreadable input). Jobs and tasks repeat exactly across runs at a fixed SF
and slot count, so a difference is a change of plan, not noise.

Each query's `compiles` difference is printed too, marked "(info)": it
shows which plans stopped (or started) paying codegen while timed, but it
depends on what ran before in the JVM, so it never changes the exit code.
"""
import json
import sys

FIELDS = ("jobs", "tasks")
INFO_FIELDS = ("compiles",)


def load(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        text = f.read()
    try:
        rec = json.loads(text)
        if isinstance(rec, dict) and "costs" in rec:
            return rec["costs"]
    except ValueError:
        pass
    for line in reversed(text.splitlines()):
        line = line.strip()
        if not (line.startswith("{") and '"costs"' in line):
            continue
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "costs" in rec:
            return rec["costs"]
    raise ValueError(f"{path}: no Bench record with a \"costs\" object")


def diff(a, b):
    """Lines describing every difference between two costs objects: the
    ones that fail the comparison, then the informational ones."""
    out, info = [], []
    for q in sorted(set(a) | set(b)):
        if q not in b:
            out.append(f"{q}: only in A")
        elif q not in a:
            out.append(f"{q}: only in B")
        else:
            for fields, into, tag in ((FIELDS, out, ""), (INFO_FIELDS, info, " (info)")):
                for f in fields:
                    va, vb = a[q].get(f), b[q].get(f)
                    if va != vb:
                        into.append(f"{q}: {f} {va} -> {vb}{tag}")
    return out, info


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    try:
        a, b = load(argv[1]), load(argv[2])
    except (OSError, ValueError) as e:
        print(f"cost_diff: {e}", file=sys.stderr)
        return 2
    lines, info = diff(a, b)
    for line in lines + info:
        print(line)
    n = len(set(a) | set(b))
    if lines:
        print(f"{len(lines)} difference(s) over {n} queries")
        return 1
    print(f"jobs and tasks identical on all {n} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
