#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <diff_tall|ingest_neardup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run generates (or reuses the cached)
inputs for its seed, runs one JVM with `local[N]` (N = available cores)
that sets up twice and then times ops in a closed loop, checks every
op's output, and prints one JSON line: the end-to-end metrics with
`--trace 0`, the per-layer metrics of a traced run with `--trace 1`, each
with the names and units `BENCHMARK.json` lists.
Diagnostics go to stderr. The exit code is 0 only when every output
check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
RUN_LIMIT_S = 170

# what SparkSession needs opened on JDK 17 outside spark-submit (the
# root build passes the same list to its forked JVMs)
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(out, exist_ok=True)
    log("building program and harness with sbt")
    t = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, stdout=subprocess.PIPE, stderr=logf, text=True, timeout=850)
        logf.write(res.stdout)
    lines = [l for l in res.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        raise RuntimeError("sbt build failed; see %s" % os.path.join(out, "sbt.log"))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log("built in %.1f s" % (time.time() - t))
    return cp


def run_jvm(cp, workload, data, meta, seed, seconds, trace, out, deadline):
    params = os.path.join(out, "params.txt")
    with open(params, "w") as f:
        if workload == "diff_tall":
            f.write("keys=%s\nrows_per_op=%d\n" % (",".join(meta["keys"]), meta["input_rows_per_op"]))
        else:
            f.write("batches=%d\nbudgets=%s\n" % (
                meta["batches"], ",".join("%s:%d" % (s, b) for s, b in meta["budgets"])))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + ADD_OPENS + [
        "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.BenchMain",
        "--workload", workload, "--data", data, "--out", out, "--seconds", str(seconds),
        "--trace", str(trace), "--seed", str(seed), "--params", params]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        res = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             timeout=max(deadline - time.time(), 1))
    report = os.path.join(out, "report.json")
    if res.returncode != 0 or not os.path.exists(report):
        raise RuntimeError("benchmark JVM failed (exit %d); see %s"
                           % (res.returncode, os.path.join(out, "jvm.log")))
    with open(report) as f:
        return json.load(f)


def check_ops(workload, report, data, meta, cache_dir):
    """One problem list per op."""
    ops = report["ops"]
    if workload == "diff_tall":
        expected = checks.expected_diff(data, report["check_inputs"]["oracle_sql"], cache_dir)
        return [checks.check_diff_op(op, expected) for op in ops]
    weights = checks.corpus_weights(data, report["check_inputs"]["corpus_sql"])
    budgets = {s: b for s, b in meta["budgets"]}
    problems = []
    for start in range(0, len(ops), meta["batches"]):
        lifecycle = ops[start:start + meta["batches"]]
        errors = [op.get("error") for op in lifecycle]
        shipped = [[] if e else checks.read_shipped(op["output"]) for op, e in zip(lifecycle, errors)]
        found = checks.check_ingest_lifecycle(shipped, weights, budgets)
        problems += [(["op failed: %s" % e] if e else []) + p for e, p in zip(errors, found)]
    return problems


def end_to_end(report, verify_s, failed):
    ops = report["ops"]
    return {
        "setup_s": verify_s + statistics.median(report["setup_rounds_s"]),
        "rows_per_s": statistics.median(o["input_rows"] / o["latency_s"] for o in ops),
        "op_p50_s": statistics.median(o["latency_s"] for o in ops),
        "cpu_s": statistics.median(o["cpu_s"] for o in ops),
        "retained_heap_mb": report["retained_heap_mb"],
        "op_ok_ratio": (len(ops) - failed) / len(ops),
    }


def per_layer(report):
    m = dict(report["layers"])
    m["setup.cold_s"] = report["setup_rounds_s"][0]
    m["trace.op_p50_s"] = statistics.median(o["latency_s"] for o in report["ops"])
    return m


def metric_specs(trace):
    """(name, unit) of each metric the run prints, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def result_line(report, verify_s, problems, trace):
    failed = sum(1 for p in problems if p)
    values = per_layer(report) if trace else end_to_end(report, verify_s, failed)
    specs = metric_specs(trace)
    missing = [k for k, _ in specs if k not in values]
    if missing:
        raise KeyError("the run reported no value for %s" % ", ".join(missing))
    return {"correct": failed == 0, "attempted": len(problems), "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in specs}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to %s: run from a full checkout" % BENCH)
        return 2
    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    cache_dir = os.path.join(WORK, "cache")
    data, meta, generated = gen.prepare(a.workload, a.seed, cache_dir)
    # set-up time includes verifying the cached inputs, not generating them
    t = time.time()
    if gen.fingerprint_of(data) != meta["fingerprint"]:
        log("cached inputs for seed %d no longer match their fingerprint; regenerating" % a.seed)
        data, meta, generated = gen.prepare(a.workload, a.seed, cache_dir, force=True)
        t = time.time()
        gen.fingerprint_of(data)
    verify_s = time.time() - t
    if generated:
        log("generated inputs for %s seed %d" % (a.workload, a.seed))

    out = os.path.join(WORK, "runs", "%s_seed%d_trace%d_%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        report = run_jvm(cp, a.workload, data, meta, a.seed, a.seconds, a.trace, out, deadline)
        log("set-up rounds (s): %s; op latencies (s): %s" % (
            " ".join("%.2f" % x for x in report["setup_rounds_s"]),
            " ".join("%.2f" % o["latency_s"] for o in report["ops"])))
        problems = check_ops(a.workload, report, data, meta, os.path.dirname(data))
        for op, p in zip(report["ops"], problems):
            for msg in p:
                log("op %d: %s" % (op["id"], msg))
        if a.trace:
            kept = os.path.join(WORK, "spans_%s.jsonl" % a.workload)
            shutil.copy(os.path.join(out, "spans.jsonl"), kept)
            log("spans written to %s" % kept)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    line = result_line(report, verify_s, problems, a.trace)
    log("%d ops, run took %.1f s" % (line["attempted"], time.time() - t0))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
