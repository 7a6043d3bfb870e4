#!/usr/bin/env python3
"""Compare two traced perfbench ledgers, op label by op label.

    python3 tools/ledger_diff.py PARENT CHANGE

PARENT and CHANGE are ledger files (`<workload>-seed<N>-trace1-ledger.jsonl`,
one JSON line per op) or directories holding them (e.g. two checkouts'
`.bench_work/out`); directories are paired by file name. Only the counts
that repeat exactly from run to run are compared (jobs, stages, tasks,
Exchanges, scans, records scanned, eager jobs), so any difference is a
change in what the program did, not host noise. A label that occurs more
than once (a key run in two passes) is paired by occurrence. Prints one
line per op label: the counters that differ as `parent -> change`, or
`same`. Exits 1 if a ledger named on one side is missing on the other.
"""
import json
import os
import sys

# plan.codegen_compiles is left out: Spark's codegen cache keeps 100
# classes, fewer than a market_daily day compiles, so its count moves
# from run to run on one tree
COUNTERS = ("sched.jobs", "sched.stages", "sched.tasks", "plan.exchanges", "plan.scans",
            "sources.scan_records", "registry.eager_jobs")


def ops(path):
    """(label, occurrence) -> ledger row, in file order."""
    seen, out = {}, {}
    with open(path) as f:
        for line in f:
            if line.strip():
                row = json.loads(line)
                n = seen.get(row["label"], 0)
                seen[row["label"]] = n + 1
                out[(row["label"], n)] = row
    return out


def fmt(x):
    return "%g" % x if isinstance(x, (int, float)) else str(x)


def diff(parent, change):
    a, b = ops(parent), ops(change)
    lines = []
    for key in list(a) + [k for k in b if k not in a]:
        label = key[0] + ("#%d" % (key[1] + 1) if key[1] else "")
        if key not in a or key not in b:
            lines.append("  %-24s only in %s" % (label, "parent" if key in a else "change"))
            continue
        changed = ["%s %s -> %s" % (c, fmt(a[key].get(c)), fmt(b[key].get(c)))
                   for c in COUNTERS if a[key].get(c) != b[key].get(c)]
        lines.append("  %-24s %s" % (label, "; ".join(changed) if changed else "same"))
    return lines


def pairs(parent, change):
    if os.path.isfile(parent) and os.path.isfile(change):
        return [(os.path.basename(change), parent, change)], []
    names = lambda d: {f for f in os.listdir(d) if f.endswith("-ledger.jsonl")}
    pa, ch = names(parent), names(change)
    both = sorted(pa & ch)
    return ([(n, os.path.join(parent, n), os.path.join(change, n)) for n in both],
            sorted(pa ^ ch))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    matched, unmatched = pairs(argv[1], argv[2])
    for name, parent, change in matched:
        print(name)
        print("\n".join(diff(parent, change)))
    for name in unmatched:
        print("%s: only on one side" % name)
    return 1 if unmatched else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
