#!/usr/bin/env python3
"""Self-check of the benchmark at sf0.001.

    python3 perfbench/selfcheck.py

Runs every workload of workloads.json once, traced, through the same code
path as run.py (the JVMs run side by side, without the warm-up pass and with
a smaller kernel probe), with two benchmark-only entries added to each
workload: one that always throws and one without an oracle. Asserts that

  * every end-to-end and per-layer metric named in BENCHMARK.json is present
    with its unit;
  * the metrics derived from the span tree agree with figures taken
    independently of it: build.s + action.s with the per-query wall time the
    harness clocks around each call, and driver.gap_s + sched.job_s with its
    pass wall time, each within 5%; sched.jobs and sched.tasks exactly, and
    sched.job_s within 5%, with the jobs Spark's own status store recorded in
    the traced passes; every traced job has a parent span;
  * the same checks fail on a derivation that lost the longest job's events
    and closed the longest build or action span halfway (the harness derives
    that broken set too), so they can catch such a loss;
  * the throwing entry is counted in failed_frac, and nothing else failed.

Exits 0 when every assertion holds.
"""
import concurrent.futures
import json
import os
import sys
import time

import run

TOLERANCE = 0.05


def consistency(w, layers, ref):
    """Problems found holding derived per-layer metrics (name -> value)
    against the independent reference figures."""
    problems = []

    def close(label, a, b):
        if abs(a - b) > TOLERANCE * b:
            problems.append(f"{w}: {label}: {a:.4f} vs {b:.4f} (more than 5% apart)")

    def same(label, a, b):
        if abs(a - b) > 1e-9:
            problems.append(f"{w}: {label}: {a:g} vs {b:g}")

    close("build.s + action.s vs the harness's query wall",
          layers["build.s"] + layers["action.s"], ref["ref.query_wall_s"])
    close("driver.gap_s + sched.job_s vs the harness's pass wall",
          layers["driver.gap_s"] + layers["sched.job_s"], ref["ref.pass_wall_s"])
    close("sched.job_s vs Spark's status store", layers["sched.job_s"], ref["ref.job_s"])
    same("sched.jobs vs Spark's status store", layers["sched.jobs"], ref["ref.jobs"])
    same("sched.tasks vs Spark's status store", layers["sched.tasks"], ref["ref.tasks"])
    return problems


def check(summary, config):
    problems = []
    w = summary["workload"]
    for section, names in (("end_to_end", config["end_to_end"]), ("per_layer", config["per_layer"])):
        got = summary[section] or {}
        for m in names:
            if m["name"] not in got:
                problems.append(f"{w}: {section} metric {m['name']} missing")
            elif got[m["name"]]["unit"] != m["unit"]:
                problems.append(f"{w}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    if summary["layer_checks"].get("check.unparented_jobs"):
        problems.append(f"{w}: {summary['layer_checks']['check.unparented_jobs']:.0f} "
                        "traced jobs have no parent span")
    ref = summary["reference"]
    layers = {k: m["value"] for k, m in (summary["per_layer"] or {}).items()}
    problems += consistency(w, layers, ref)
    caught = consistency(w, summary["broken_layers"], ref)
    for what in ("query wall", "sched.jobs"):
        if not any(what in p for p in caught):
            problems.append(f"{w}: the {what} check does not catch the broken derivation")
    failed = set(summary["failures"])
    if "graftbench_throws" not in failed:
        problems.append(f"{w}: the throwing entry is not counted as failed")
    if summary["end_to_end"]["failed_frac"]["value"] <= 0:
        problems.append(f"{w}: failed_frac is 0 although an entry threw")
    others = failed - {"graftbench_throws"}
    if others:
        problems.append(f"{w}: unexpected failures: {summary['failures']}")
    return problems


def main():
    root = os.getcwd()
    config = json.load(open(os.path.join(root, "BENCHMARK.json")))
    workloads = list(run.WORKLOADS)
    run.HEAP = "1g"
    t0 = time.time()
    run.build(root)  # once, before the runs share it
    run.make_inputs(root, "sf0.001", 0)
    with concurrent.futures.ThreadPoolExecutor(len(workloads)) as ex:
        futures = {w: ex.submit(run.run, root, w, 0, 0, True, sf="sf0.001", self_check=True)
                   for w in workloads}
        summaries = {w: f.result() for w, f in futures.items()}
    problems = []
    for w in workloads:
        s = summaries[w]
        problems += check(s, config)
        e2e = ", ".join(f"{k} {m['value']:.4g} {m['unit']}" for k, m in s["end_to_end"].items())
        print(f"{w}: {e2e}")
        layers, ref = s["per_layer"], s["reference"]
        print(f"  derived vs reference: build+action "
              f"{layers['build.s']['value'] + layers['action.s']['value']:.3f} vs "
              f"{ref['ref.query_wall_s']:.3f} s, gap+jobs "
              f"{layers['driver.gap_s']['value'] + layers['sched.job_s']['value']:.3f} vs "
              f"{ref['ref.pass_wall_s']:.3f} s, job union {layers['sched.job_s']['value']:.3f} vs "
              f"{ref['ref.job_s']:.3f} s, jobs {layers['sched.jobs']['value']:g} vs "
              f"{ref['ref.jobs']:g}, tasks {layers['sched.tasks']['value']:g} vs {ref['ref.tasks']:g}")
        for p in consistency(w, s["broken_layers"], ref):
            print(f"  broken derivation caught: {p}")
    for p in problems:
        print("FAIL", p)
    print(f"self-check {'failed' if problems else 'passed'} in {time.time() - t0:.0f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
