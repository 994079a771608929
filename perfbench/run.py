#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 0 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the program and
the harness (perfbench/harness, an sbt build that depends on the checkout's
own build) into .bench_build/; later runs reuse the build while the sources
are unchanged. The run then

  * writes its inputs from --seed: seed 0 copies the fixture tables in
    perfbench/data as they are; any other seed writes each table's rows in
    a seeded order (same schema, row count, one file and one row group);
  * starts one JVM (local[nproc]) that sets up a session, runs a cold first
    pass, runs warm passes back to back for --seconds, then runs every query
    once more, untimed, for the output checks;
  * compares each query's check output with the DuckDB oracle over the same
    inputs (the rules of scripts/check.py);
  * prints a table of the metrics and, as the last line, one JSON object
    {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
    with --trace 0, the per-layer metrics with --trace 1.

--record DIR keeps the run record (and, traced, the span file) in DIR.
"""
import argparse
import concurrent.futures
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import oracle  # noqa: E402

WORKLOADS = json.load(open(os.path.join(BENCH, "workloads.json")))
CONFIG = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(BENCH, "..", "BENCHMARK.json")) else None
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
RUN_LIMIT_S = 175


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = d if os.path.isabs(d) else os.path.join(root, d)
    return os.path.join(d, "graftbench")


def source_stamp(root):
    """Hash of everything the build reads: the program's build and sources
    and the harness's."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(dp, root).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles program and harness with sbt (offline) unless the stamp shows
    the sources unchanged; returns (classpath, JVM options)."""
    bdir = build_dir(root)
    os.makedirs(bdir, exist_ok=True)
    launch = os.path.join(bdir, "launch.txt")
    stamp_file = os.path.join(bdir, "stamp")
    stamp = source_stamp(root)
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) \
        and open(stamp_file).read() == stamp
    if not fresh:
        if shutil.which("sbt") is None:
            raise BenchError("sbt is not on PATH")
        env = dict(os.environ, GRAFTBENCH_LAUNCH=launch)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        log("building program and harness with sbt")
        t0 = time.time()
        with open(os.path.join(bdir, "build.log"), "w") as out:
            rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=os.path.join(root, "perfbench", "harness"), env=env,
                           stdout=out, timeout=850)
        if rc != 0 or not os.path.exists(launch):
            raise BenchError(f"build failed (exit {rc}); see {bdir}/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def run_group(cmd, cwd, env, stdout, timeout):
    """Runs cmd in its own process group; on timeout kills the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- inputs

def make_inputs(root, sf, seed):
    """The directory the program reads: the fixture tables of `sf`, with each
    table's rows in a seeded order unless seed is 0."""
    src = os.path.join(BENCH, "data", sf)
    out = os.path.join(build_dir(root), "data", sf, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "READY")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if seed != 0:
        import numpy as np
        import pyarrow.parquet as pq
        rng = np.random.default_rng(seed)
    for t in TABLES:
        f = os.path.join(src, f"{t}.parquet")
        if seed == 0:
            shutil.copyfile(f, os.path.join(tmp, f"{t}.parquet"))
            continue
        table = pq.read_table(f)
        perm = rng.permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(tmp, f"{t}.parquet"),
                       row_group_size=max(1, table.num_rows))
    open(os.path.join(tmp, "READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile of xs with at least 10 samples beyond it:
    (value, percentile, n)."""
    n = len(xs)
    if n == 0:
        return float("nan"), 100.0, 0
    if n < 11:
        return max(xs), 100.0, n
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(r, failed, attempted):
    warm = [e["wall_s"] for e in r["execs"] if e["phase"] == "measured" and not e["error"]]
    t, pct, n = tail(warm)
    return {
        "pass_s": (median(r["pass_s"]), "s"),
        "pass_cpu_s": (median(r["pass_cpu_s"]), "s"),
        "query_p50_s": (median(warm), "s"),
        "query_tail_s": (t, "s"),
        "setup_s": (r["setup"]["setup_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "fraction"),
    }, {"percentile": round(pct, 2), "n": n}


PER_LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "action.s": "s", "driver.gap_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.tasks_per_job": "count", "sched.job_s": "s", "sched.launch_delay_ms": "ms",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "fraction", "exec.single_task_s": "s",
    "io.input_records": "count", "io.input_mb": "MB", "io.output_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB", "cache.stored_mb": "MB",
    "stream.triggers": "count", "stream.trigger_ms": "ms",
    "trace.overhead_s": "s",
}
PER_LAYER_UNITS.update({f"kernel.{k}.mb_per_s": "MB/s" for k in (
    "text_stats", "repetition_stats", "minhash_sig", "simhash64",
    "shingle_tokens", "nfc_normalize", "ascii_tokens", "bpe_count")})


def per_layer(r):
    vals = dict(r["layers"] or {})
    vals.update(r["kernel_probe"] or {})
    return {k: (vals[k], u) for k, u in PER_LAYER_UNITS.items() if k in vals}


# ---------------------------------------------------------------- run

def check_outputs(r, data, out):
    """Per-query check verdicts: {name: None if passed else reason}. The
    oracle comparisons run side by side; the JVM has exited by then."""
    verdicts = {}
    with concurrent.futures.ThreadPoolExecutor(os.cpu_count() or 1) as ex:
        for name, c in r["checks"].items():
            if c["kind"] == "error":
                verdicts[name] = "check run threw: " + c["error"]
            elif c["kind"] == "signature":
                same = len(set(c["rows"])) == 1 and len(set(c["hash"])) == 1
                verdicts[name] = None if same else \
                    f"output differs between check runs: rows {c['rows']}, hash {c['hash']}"
            else:
                verdicts[name] = ex.submit(oracle.compare, os.path.join(out, "check", name),
                                           c["oracle"], data)
    return {k: v.result() if isinstance(v, concurrent.futures.Future) else v
            for k, v in verdicts.items()}


def run(root, workload, seed, seconds, trace, sf="sf0.01", record=None,
        self_check=False):
    """One benchmark run; returns the summary dict. The self-check skips the
    warm-up pass, measures one pass and probes the kernels on less input; the
    rest of the path is the same."""
    cp, jvm_opts = build(root)
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload!r}; have {sorted(WORKLOADS)}")
    queries = WORKLOADS[workload]["queries"]
    data = make_inputs(root, sf, seed)
    cores = os.cpu_count() or 1
    work = os.path.join(build_dir(root), "work", f"{workload}-{os.getpid()}-{int(t_start * 1000)}")
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    try:
        # no hsperfdata file: the JVM would write it outside the checkout
        cmd = ["java", *jvm_opts, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}", "-cp", cp, "graftbench.Harness",
               "--workload", workload, "--queries", ",".join(queries),
               "--data", data, "--out", out, "--seconds", str(seconds),
               "--seed", str(seed), "--trace", "1" if trace else "0",
               "--cores", str(cores),
               "--warmup-passes", str(WORKLOADS[workload]["warmup_passes"])]
        # per-layer metrics carry no bound: a traced run measures one traced
        # and one untraced pass at least, to keep the run short
        if trace:
            cmd += ["--min-passes", "1"]
        if self_check:
            cmd += ["--self-check", "--warmup-passes", "0", "--min-passes", "1", "--probe-mb", "1"]
        with open(os.path.join(work, "harness.log"), "w") as log_f:
            rc = run_group(cmd, cwd=work, env=dict(os.environ), stdout=log_f,
                           timeout=max(5, deadline - time.time() - 5))
        result_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            tail_lines = open(os.path.join(work, "harness.log")).read().splitlines()[-15:]
            raise BenchError(f"harness exit {rc}:\n" + "\n".join(tail_lines))
        r = json.load(open(result_file))
        t_oracle = time.time()
        verdicts = check_outputs(r, data, out)
        oracle_s = time.time() - t_oracle
        failures = {}
        for e in r["execs"]:
            if e["error"]:
                failures.setdefault(e["name"], []).append(f"pass {e['pass']}: {e['error']}")
        for name, v in verdicts.items():
            if v:
                failures.setdefault(name, []).append(f"check: {v}")
        attempted = len(r["execs"]) + len(verdicts)
        failed = sum(len(v) for v in failures.values())
        e2e, tail_info = end_to_end(r, failed, attempted)
        summary = {
            "workload": workload, "seed": seed, "trace": trace, "sf": sf,
            "run": r["run"], "queries": len(queries),
            "passes": len(r["pass_s"]), "pass_s_all": r["pass_s"],
            "pass_cpu_s_all": r["pass_cpu_s"], "host_steal_frac": r["host_steal_frac"],
            "setup": r["setup"], "query_tail": tail_info,
            "timing_s": {"run": time.time() - t_start, "harness_check": r["check_s"],
                         "oracle_check": oracle_s},
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer(r).items()}
            if trace else None,
            "layer_checks": {k: v for k, v in (r["layers"] or {}).items() if k.startswith("check.")},
            "reference": r["reference"], "broken_layers": r["broken_layers"],
            "self_s": r["self_s"],
            "untraced_pass_s": r.get("untraced_pass_s"),
            "attempted": attempted, "failed": failed, "failures": failures,
            "correct": failed == 0,
        }
        if record:
            os.makedirs(record, exist_ok=True)
            with open(os.path.join(record, "summary.json"), "w") as f:
                json.dump(summary, f, indent=1, sort_keys=True)
            with open(os.path.join(record, "result.json"), "w") as f:
                json.dump(dict(r, data=os.path.relpath(r["data"], root)), f)
            if trace:
                shutil.copyfile(os.path.join(out, "spans.jsonl"),
                                os.path.join(record, "spans.jsonl"))
        return summary
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(s, trace):
    names = None
    if CONFIG:
        names = [m["name"] for m in CONFIG["per_layer" if trace else "end_to_end"]]
    source = s["per_layer"] if trace else s["end_to_end"]
    names = names or list(source)
    missing = [n for n in names if n not in source]
    if missing:
        raise BenchError(f"metrics missing from the run: {missing}")
    unmeasured = [n for n in names if not math.isfinite(source[n]["value"])]
    if unmeasured:
        raise BenchError(f"metrics without a value (every execution failed?): {unmeasured}")
    return {"correct": s["correct"], "attempted": s["attempted"], "failed": s["failed"],
            "metrics": {n: source[n] for n in names}}


def print_table(s):
    print(f"workload {s['workload']}  seed {s['seed']}  trace {int(s['trace'])}  "
          f"{s['run']['master']}  default_parallelism {s['run']['default_parallelism']}  "
          f"shuffle_partitions {s['run']['shuffle_partitions']}  "
          f"heap {s['run']['max_heap_mb']} MB  Spark {s['run']['spark_version']}  "
          f"{s['run']['jdk']}  calibration_s {s['run']['calibration_s']}")
    steal = s["host_steal_frac"]
    print(f"  {s['passes']} measured passes of {s['queries']} queries; "
          f"query_tail_s is p{s['query_tail']['percentile']} of n={s['query_tail']['n']}; "
          f"host steal {'n/a' if steal is None else f'{100 * steal:.1f}%'} while measuring")
    for k, m in s["end_to_end"].items():
        print(f"  {k:28s} {m['value']:14.6g} {m['unit']}")
    for k, m in (s["per_layer"] or {}).items():
        note = "  (undercounted: vectored parquet reads bypass the counter)" \
            if k == "io.input_mb" else ""
        print(f"  {k:28s} {m['value']:14.6g} {m['unit']}{note}")
    for name, why in s["failures"].items():
        print(f"  FAILED {name}: {'; '.join(why)[:300]}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="keep the run record and span file here")
    a = ap.parse_args(argv)
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        log("not the root of a graft checkout: build.sbt and src/main/scala are missing")
        return 2
    try:
        s = run(root, a.workload, a.seed, a.seconds, bool(a.trace), record=a.record)
        line = result_line(s, bool(a.trace))
    except BenchError as e:
        log(str(e))
        return 1
    print_table(s)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
