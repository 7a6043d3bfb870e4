#!/usr/bin/env python3
"""Run every workload and print one row per workload.

    python3 perfbench/report.py [--seeds 1,2,3] [--seconds 10] [--traced]
                                [--workloads market_daily,analyst_mix]

Each (workload, seed) runs `perfbench/run.py` once untraced. With more than
one seed, a row shows each end-to-end metric's median and its spread (the
distance between the first and third quartiles as a share of the median).
`--traced` adds a traced run per (workload, seed) and prints the tracing
overhead: for each end-to-end metric, the traced median minus the untraced
one. Artifacts land in `.bench_work/out/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_work", "out")
WORKLOADS = ["market_daily", "analyst_mix", "curation_10x"]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print("%s seed %d trace %d: exit %d\n%s" % (workload, seed, trace, p.returncode,
                                                    "\n".join(lines[-10:])))
        return None, wall
    with open(os.path.join(OUT, "%s-seed%d-trace%d.json" % (workload, seed, trace))) as f:
        return json.load(f), wall


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    bad = False
    for w in a.workloads.split(","):
        arts, walls = {}, []
        for s in seeds:
            art, wall = run(w, s, a.seconds, 0)
            walls.append(wall)
            if art is None:
                bad = True
                continue
            arts[s] = art
        if not arts:
            continue
        units = {n: m["unit"] for n, m in next(iter(arts.values()))["end_to_end"].items()}
        cells = []
        for n, unit in units.items():
            xs = [x["end_to_end"][n]["value"] for x in arts.values()]
            cell = "%s=%.4g %s" % (n, statistics.median(xs), unit)
            if len(xs) > 1:
                cell += " (spread %.3f)" % spread(xs)
            cells.append(cell)
        ff = statistics.median(x["failed_frac"] for x in arts.values())
        cells.append("failed_frac=%.4g ratio" % ff)
        tails = [x["op_tail"] for x in arts.values() if x["op_tail"]]
        cells.append("op_tail_s=" + ("%.4g s (p%d, n=%d)" % (
            tails[0]["value_s"], tails[0]["percentile"], tails[0]["n"]) if tails else "omitted"))
        print("%-13s %s | run wall median %.1f s" % (w, "  ".join(cells), statistics.median(walls)))
        bad = bad or ff > 0
        if a.traced:
            pairs = [(run(w, s, a.seconds, 1)[0], u) for s, u in arts.items()]
            bad = bad or any(p[0] is None for p in pairs)
            pairs = [p for p in pairs if p[0] is not None]
            if pairs:
                cells = []
                for n, unit in units.items():
                    t = statistics.median(p[0]["end_to_end"][n]["value"] for p in pairs)
                    u = statistics.median(p[1]["end_to_end"][n]["value"] for p in pairs)
                    cells.append("%s %+.4g %s (%+.1f%%)" % (n, t - u, unit, 100 * (t - u) / u))
                print("%-13s tracing overhead (traced - untraced): %s" % (w, "  ".join(cells)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
