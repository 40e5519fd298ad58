#!/usr/bin/env python3
"""graft benchmark: one workload, one client, closed loop, one JVM.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: scd2_refresh, dedup_corpus, ann_lifecycle, index_scan (see
perfbench/README.md).  The script builds the engine and the harness from
source, generates the seeded inputs, runs the harness at local[nproc],
checks every op's output against an independent answer, and prints a
report line followed by the result line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.  Everything it writes stays
under .bench_build/perfbench in the working directory.
"""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import gen  # noqa: E402
from checks import Checker  # noqa: E402

SETUP_REPS = 3
JVM_TIMEOUT_S = 160
# op_tail_ms percentile per workload: the highest of 99/95/90/75/50 that
# leaves at least 10 samples beyond it at the workload's usual count of
# warm op samples in a 20-second run (ops per pass x warm passes).  Fixed
# per workload so that a run with one pass more or less reports the same
# percentile; the report records the samples actually beyond it.
TAIL_P = {"scd2_refresh": 60, "dedup_corpus": 50, "ann_lifecycle": 50, "index_scan": 75}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "rows_per_s": "1/s",
              "op_p50_ms": "ms", "op_tail_ms": "ms", "heap_live_mb": "MB"}
# per-layer metrics summed over one traced pass (median over traced passes)
ADDITIVE = {
    "queries.call_ms": "ms", "queries.action_ms": "ms", "queries.self_ms": "ms",
    "operators.eager_jobs": "count", "operators.eager_ms": "ms", "operators.self_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.codegen_ms": "ms", "plans.codegen_compiles": "count", "plans.exchanges": "count",
    "plans.broadcasts": "count", "plans.smj": "count", "plans.self_ms": "ms",
    "sources.read_rows": "count", "sources.read_mb": "MB", "sources.write_rows": "count",
    "sources.write_mb": "MB", "sources.write_ms": "ms", "sources.self_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.sched_wait_ms": "ms", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_ms": "ms", "exec.spill_mb": "MB", "exec.task_failures": "count",
    "exec.self_ms": "ms"}
DERIVED = {"sources.rows_per_result": "ratio", "exec.busy_ratio": "ratio",
           "exec.peak_mem_mb": "MB", "trace.overhead_s": "s"}


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def percentile(values, p):
    """(value, samples beyond it): nearest-rank percentile."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def run_harness(root, classes, jars, args, work, inputs, out):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
            "--workload", args.workload, "--inputs", inputs, "--work", work,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus()),
            "--setup-reps", str(SETUP_REPS), "--out", out])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=root)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness timed out after {JVM_TIMEOUT_S}s (log: {log})")
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {code} (log: {log})")
    return json.load(open(out))


def verify_dumps(res, inputs):
    """Check dumped outputs against DuckDB / brute force; returns
    ({op: problem}, {op: recall})."""
    chk = Checker(inputs)
    bad, recalls = {}, {}
    for op, d in sorted(res["dumps"].items()):
        try:
            if d["check"] == "oracle":
                problem, _ = chk.oracle(d["path"], d["sql"])
            else:
                kind = "ivf" if op.startswith("ivf") else "graph"
                problem, r = chk.recall(d["path"], d["corpus"], res["recall_k"], kind)
                if r is not None:
                    recalls[op] = r
        except Exception as e:  # a failed check is a failed op, with its cause
            problem = f"{type(e).__name__}: {e}"
        if problem:
            bad[op] = problem
    return bad, recalls


def layer_metrics(res, ncpu):
    """Per-layer metrics: per traced pass, then the median over traced passes."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"][1:] if not p["traced"]]
    per_pass = []
    for p in traced:
        rows = [r for r in res["layers"] if int(r["pass"]) == p["pass"]]
        m = {k: sum(r[k] for r in rows) for k in ADDITIVE}
        result_rows = sum(r["op.result_rows"] for r in rows)
        wall = sum(r["op.wall_ms"] for r in rows)
        m["sources.rows_per_result"] = m["sources.read_rows"] / max(1.0, result_rows)
        m["exec.busy_ratio"] = m["exec.task_ms"] / max(1e-9, wall * ncpu)
        m["exec.peak_mem_mb"] = max(r["exec.peak_mem_mb"] for r in rows)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced) -
                               statistics.median(p["wall_s"] for p in untraced))
    units = dict(ADDITIVE, **DERIVED)
    return {k: {"value": v, "unit": units[k]} for k, v in sorted(out.items())}


def main():
    # turn SIGTERM into SystemExit so the harness JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classes, jars = build.build(root)
    work = os.path.join(root, ".bench_build", "perfbench", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    gen_s = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        inputs = os.path.join(work, f"inputs{i}")
        gen.generate(inputs, args.seed, gen.PROFILES[args.workload])
        gen_s.append(time.perf_counter() - t0)

    res = run_harness(root, classes, jars, args, work, inputs, os.path.join(work, "result.json"))
    bad, recalls = verify_dumps(res, inputs)

    ops = res["ops"]
    failed_at = {(f["op"], f["pass"]) for f in res["failures"]}
    failed_at |= {(o["name"], o["pass"]) for o in ops if o["name"] in bad}
    attempted, failed = len(ops), len(failed_at)

    untraced_warm = [p for p in res["passes"][1:] if not p["traced"]]
    warm_ops = [o for o in ops if o["pass"] > 0 and not o["traced"]]
    lat = [o["ms"] for o in warm_ops]
    writes = [o["ms"] for o in warm_ops if o["writes"]]
    warm_s = statistics.median(p["wall_s"] for p in untraced_warm)
    tail_p = TAIL_P[args.workload]
    tail_ms, beyond = percentile(lat, tail_p)
    setup_s = (res["session_start_s"] + statistics.median(gen_s) +
               statistics.median(res["setup_s"]))
    e2e = {"setup_s": setup_s, "cold_s": res["passes"][0]["wall_s"], "warm_s": warm_s,
           "rows_per_s": res["input_rows"] / warm_s, "op_p50_ms": statistics.median(lat),
           "op_tail_ms": tail_ms, "heap_live_mb": res["heap_live_mb"]}

    counts = {k: sorted({p[k] for p in res["passes"][1:]}) for k in
              ("jobs", "stages", "exchanges", "shuffle_write_bytes", "read_rows", "codegen_compiles")}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus(),
        "protocol": {"master": f"local[{cpus()}]", "shuffle_partitions": cpus(),
                     "codec": "zstd", "clients": 1, "loop": "closed", "timezone": "UTC"},
        "input_rows_per_pass": res["input_rows"],
        "passes": {"cold": 1, "warm_untraced": len(untraced_warm),
                   "warm_traced": sum(p["traced"] for p in res["passes"])},
        "samples": {"op": len(lat), "write": len(writes), "op_tail_percentile": tail_p,
                    "op_tail_beyond": beyond},
        "setup_parts_s": {"session_start": res["session_start_s"], "input_gen": gen_s,
                          "base_state": res["setup_s"]},
        "write_p50_ms": statistics.median(writes) if writes else None,
        "recall_at_k": recalls.get("graph_probe"), "recall_by_op": recalls,
        "error_rate": failed / attempted,
        "exact_counts_per_warm_pass": counts,
        "output_digest": hashlib.sha256(json.dumps(sorted(res["digests"].items())).encode()).hexdigest()[:16],
        "failures": res["failures"][:10] + [{"op": k, "kind": "oracle", "message": v} for k, v in bad.items()],
        "spans_file": os.path.relpath(res["spans_file"], root),
    }
    print(json.dumps({"report": report}))
    metrics = (layer_metrics(res, cpus()) if args.trace else
               {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
