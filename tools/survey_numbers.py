#!/usr/bin/env python3
"""Generate SURVEY §5.x measured-evidence numbers FROM the shipped artifacts.

The numbers in SURVEY's measured-evidence blocks drifted from the artifacts
three rounds running because they were transcribed mid-round by hand. This
tool is the fix: it reads bench_out.json, SCALE*_out.json, the ScalaTest XML
reports, and (optionally) a selfcheck log, and prints a markdown block whose
every number IS the artifact value. Paste the output verbatim at the final
commit — never hand-edit a measured number again. It also prints the main
source size (lines of src/main/**/*.scala, as `wc -l` counts them), the
one count CHANGES.md and ROADMAP track the code's size by.

Usage: python3 tools/survey_numbers.py [--selfcheck /tmp/selfcheck.log]
"""
import argparse, glob, json, os, sys
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_block():
    path = os.path.join(REPO, "bench_out.json")
    if not os.path.exists(path):
        return ["- bench_out.json: MISSING"]
    with open(path) as f:
        summary = json.loads(f.readline())
    qs = summary["queries"]
    worst = max(qs, key=qs.get)
    failed = [k for k, v in qs.items() if v is None or v < 0]
    real = {k: v for k, v in qs.items() if v >= 0.3}
    calib = (f" calib_sec {summary['calib_sec']:.3f};"
             if "calib_sec" in summary else "")
    return [
        f"- **Bench (bench_out.json)**: total **{summary['value']:.1f} s over "
        f"{len(qs)} queries, {len(failed)} failed** (min-of-N, sf0.1);{calib} worst "
        f"single query **{qs[worst]:.2f} s ({worst})**; {len(real)} keys ≥0.3 s "
        f"summing {sum(real.values()):.1f} s."
    ]


def scale_block():
    lines = []
    for fname, label in [("SCALE_out.json", "10×"), ("SCALE30_out.json", "30×"),
                         ("SCALE100_out.json", "100×"),
                         ("SCALE100_EVENTS_out.json", "100× events family")]:
        path = os.path.join(REPO, fname)
        if not os.path.exists(path):
            if fname != "SCALE100_EVENTS_out.json":  # optional artifact
                lines.append(f"- {fname}: MISSING")
            continue
        # artifacts may be pretty-printed JSON or JSONL with trailing records —
        # take the FIRST JSON document in the file either way
        raw = open(path).read()
        d, _ = json.JSONDecoder().raw_decode(raw)
        qs = d["queries"]
        ratios = sorted(((v["ratio"], k) for k, v in qs.items()), reverse=True)
        top = ", ".join(f"{k} {r:.2f}×" for r, k in ratios[:3])
        extra = ""
        if "calib_sec" in d:
            extra += f"; calib_sec {d['calib_sec']:.3f}"
        if d.get("n_gated"):
            extra += (f"; {d['n_gated']} gated by the pair-output cap "
                      f"({', '.join(sorted(d['gated']))})")
        if "fixed_suite_curation" in d:
            extra += f"; fixed-suite curation {d['fixed_suite_curation']['ratio']:.2f}×"
        if "lsh_diag" in d:
            ld = d["lsh_diag"]
            extra += (f"; lsh_diag candidates {ld['base']['candidates']:,} → "
                      f"{ld['scaled']['candidates']:,}")
        if "embedding_diag" in d:
            ed = d["embedding_diag"]
            extra += (f"; embedding_diag exact pairs {ed['base']['exact_pairs']:,} → "
                      f"{ed['scaled']['exact_pairs']:,}")
            if "est_over_actual" in ed.get("scaled", {}):
                extra += (f" (gate estimate/actual "
                          f"{ed['base']['est_over_actual']} → "
                          f"{ed['scaled']['est_over_actual']})")
        lines.append(
            f"- **Scale {label} ({fname})**: {len(qs)} keys, total "
            f"**{d['total_ratio']:.2f}× at {d['mult']}× rows**, "
            f"{d['n_failed']} failed; tallest ratios: {top}{extra}.")
    return lines


def source_block():
    files = glob.glob(os.path.join(REPO, "src/main/**/*.scala"), recursive=True)
    lines = 0
    for p in files:
        with open(p, "rb") as f:
            lines += f.read().count(b"\n")
    return [f"- **Main source**: {lines:,} lines in {len(files)} files "
            f"(src/main/**/*.scala)."]


def tests_block():
    def live(report):  # a report whose suite's source is gone is from an older tree
        suite = os.path.basename(report)[len("TEST-"):-len(".xml")].split(".")[-1]
        return glob.glob(os.path.join(REPO, "src/test/**", suite + ".scala"), recursive=True)
    reports = [p for p in glob.glob(os.path.join(REPO, "target/test-reports/TEST-*.xml"))
               if live(p)]
    if not reports:
        return ["- test-reports: MISSING (run sbt test)"]
    tests = failures = 0
    for p in reports:
        root = ET.parse(p).getroot()
        tests += int(root.get("tests", 0))
        failures += int(root.get("failures", 0)) + int(root.get("errors", 0))
    return [f"- **ScalaTest**: {tests} tests, {failures} failures "
            f"({len(reports)} suites)."]


def selfcheck_block(log_path):
    if not log_path or not os.path.exists(log_path):
        return ["- selfcheck: no log supplied (pass --selfcheck)"]
    ok = rows_only = bad = 0
    tail = ""
    for ln in open(log_path):
        ln = ln.strip()
        if "/" in ln and ln.endswith("pass"):
            tail = ln
        parts = ln.split()
        if len(parts) == 2 and parts[0].startswith("q"):
            st = parts[1]
            if st.startswith("OK"):
                ok += 1
            elif st.startswith("rows_only"):
                rows_only += 1
            else:
                bad += 1
    return [f"- **Verify vs DuckDB (selfcheck)**: {ok} oracle-pass + "
            f"{rows_only} rows-only, {bad} failing ({tail})."]


def prev_block(rev):
    import subprocess
    if not rev:
        return []
    raw = subprocess.run(["git", "show", f"{rev}:bench_out.json"],
                         capture_output=True, text=True, cwd=REPO).stdout
    if not raw:
        return [f"- prev bench at {rev}: MISSING"]
    prev = json.loads(raw.splitlines()[0])
    with open(os.path.join(REPO, "bench_out.json")) as f:
        cur = json.loads(f.readline())
    qp, qc = prev["queries"], cur["queries"]
    real = [k for k in set(qp) & set(qc) if qp[k] >= 0.3]
    sp, sc = sum(qp[k] for k in real), sum(qc[k] for k in real)
    worst = max(real, key=lambda k: qc[k] / qp[k])
    new = {k: qc[k] for k in qc if k not in qp}
    return [
        f"- **vs {rev}**: {len(real)} shared real-cost keys (≥0.3 s) subtotal "
        f"{sp:.1f} → {sc:.1f} s (**{sc/sp:.2f}×**); worst shared ratio "
        f"{qc[worst]/qp[worst]:.2f}× ({worst}); {len(new)} new keys cost "
        f"{sum(new.values()):.1f} s combined, max "
        f"{max(new.values()):.2f} s." if new else
        f"- **vs {rev}**: {len(real)} shared real-cost keys subtotal "
        f"{sp:.1f} → {sc:.1f} s ({sc/sp:.2f}×)."
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selfcheck", default=None,
                    help="path to a tools/selfcheck.py output log")
    ap.add_argument("--prev", default=None,
                    help="git rev whose bench_out.json to compare against")
    args = ap.parse_args()
    print("<!-- generated by tools/survey_numbers.py — do not hand-edit -->")
    for line in (source_block() + tests_block() + selfcheck_block(args.selfcheck)
                 + bench_block() + prev_block(args.prev) + scale_block()):
        print(line)


if __name__ == "__main__":
    main()
