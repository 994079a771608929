#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload relational --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/spread.py --from runs.jsonl

Runs run.py once per seed (untraced, run_seconds from BENCHMARK.json) and
prints, per workload and metric, the median of the runs and the spread: the
distance between the first and third quartile (statistics.quantiles, n=4) as
a share of the median, beside a third of the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
CONFIG = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def report(rows):
    bounds = {m["name"]: (m["bound"], m["unit"]) for m in CONFIG["end_to_end"]}
    for w in sorted({r["workload"] for r in rows}):
        rs = [r for r in rows if r["workload"] == w]
        bad = [r["seed"] for r in rs if not r["line"]["correct"]]
        print(f"{w}: {len(rs)} runs, mean {statistics.mean(r['elapsed'] for r in rs):.0f} s each"
              + (f", incorrect on seeds {bad}" if bad else ""))
        for name, (bound, unit) in bounds.items():
            vals = [r["line"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if spread < bound / 3 else "  <-- above a third of the bound"
            print(f"  {name:14s} median {med:10.4f} {unit:3s} spread {spread:6.3f}  "
                  f"(bound/3 {bound / 3:.3f}){flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--from", dest="src")
    ap.add_argument("--record-dir", help="keep each run's record in DIR/<workload>-<seed>")
    a = ap.parse_args()
    if a.src:
        report([json.loads(line) for line in open(a.src)])
        return 0
    rows = []
    for w in a.workload or [x["name"] for x in CONFIG["workloads"]]:
        for seed in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(CONFIG["run_seconds"]),
                                "--trace", "0"]
                               + (["--record", os.path.join(a.record_dir, f"{w}-{seed}")]
                                  if a.record_dir else []),
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(p.stderr[-2000:], file=sys.stderr)
                return 1
            row = {"workload": w, "seed": seed, "elapsed": time.time() - t0,
                   "line": json.loads(p.stdout.strip().splitlines()[-1])}
            rows.append(row)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(row) + "\n")
    report(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
