#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload genome_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (into perfbench/target, classpath cached in
.bench_build/); later runs reuse the build while the sources are
unchanged. Each run makes its inputs from the seed, computes the
reference fingerprints outside the timed region, starts one JVM that
sets up a local session and issues the workload's calls pass after pass
for the given seconds, then checks every call's output against the
reference. The last line of standard output is the result as JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
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

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import curation  # noqa: E402
import fingerprint as fp  # noqa: E402
import genome  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "4g"


def hang_limit_s(seconds):
    """How long to wait for the benchmark JVM before taking it for hung.
    Far above a normal run, so that a slow program is reported as slow
    figures rather than cut off."""
    return max(600.0, 10 * seconds)


WORKLOADS = {
    # above the library's 32 MiB leaf-bytes gate: sampled, salted and
    # sweep branches
    "genome_large": dict(kind="genome", reads=650_000, genes=60_000, gate="above",
                         calls=["countOverlaps", "joinOverlaps", "overlap", "subtract",
                                "merge", "toRle", "bedRoundTrip"]),
    # below it: fixed per-call cost dominates
    "genome_small": dict(kind="genome", reads=100_000, genes=5_000, gate="below",
                         calls=genome.CALLS),
    # the LLM-data curation queries: the ml layer
    "curation": dict(kind="curation", gate="none"),
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
              "op_p50_s": "s", "ok_ratio": "ratio"}
PER_LAYER = {
    "core.build_ms": "ms", "core.sample_jobs": "count",
    "join.path.salted": "count", "join.path.plain": "count",
    "join.path.sweep": "count", "join.path.binned": "count",
    "plans.plan_ms": "ms", "plans.cold_plan_ms": "ms",
    "plans.sweep_nodes": "count", "plans.exchanges": "count",
    "plans.nlj_nodes": "count", "plans.sweep_rows_out": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.busy_share": "ratio", "exec.skew": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_task_mem_mb": "MB", "exec.rows_out": "count",
    "io.read_ms": "ms", "io.write_ms": "ms", "io.write_mb": "MB",
    "ml.build_ms": "ms", "ml.exec_ms": "ms", "ml.pins": "count", "ml.pin_mb": "MB",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.cold_jit_ms": "ms",
    "jvm.codegen_compiles": "count", "jvm.cold_codegen_compiles": "count",
    "jvm.codegen_ms": "ms", "jvm.cold_codegen_ms": "ms", "jvm.heap_peak_mb": "MB",
    "cache_left_mb": "MB", "trace.overhead": "ratio",
}

# Spark on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (["build.sbt"] + sorted(f for f in os.listdir(HERE) if f.endswith(".py")) +
              [os.path.join("curation_fixture", t + ".parquet") for t in curation.SLICE]):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile library + harness; cache the classpath and the curation
    reference."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == digest:
            return b
    os.makedirs(BUILD, exist_ok=True)
    log(f"building sources {digest} with sbt")
    t = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")   # the toolchain's cache only
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in proc.stdout.splitlines()
          if ".jar" in ln and not ln.startswith("[")][-1].strip()
    b = {"digest": digest, "classpath": cp}
    oracle = os.path.join(BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.OracleSql", oracle] + curation.QUERIES,
                   check=True)
    with open(oracle) as fh:
        oracle_sql = json.load(fh)
    b["curation_reference"] = {k: fp.fmt(v) for k, v in
                               curation.reference(curation.FIXTURE, oracle_sql).items()}
    b["build_s"] = round(time.time() - t, 1)
    with open(stamp, "w") as fh:
        json.dump(b, fh)
    log(f"built in {b['build_s']} s")
    return b


def inputs(seed, spec, b, run_dir):
    """The run's input directory and reference fingerprints."""
    if spec["kind"] == "curation":
        # fixed inputs; the run's seed permutes the call order
        return curation.FIXTURE, b["curation_reference"]
    d = os.path.join(run_dir, "data")
    genome.generate(seed, spec["reads"], spec["genes"], d)
    return d, {k: fp.fmt(v) for k, v in genome.reference(d).items()}


def call_order(spec, seed):
    if spec["kind"] == "genome":
        return list(spec["calls"])
    return list(np.random.default_rng(seed).permutation(curation.QUERIES))


def hd_median(xs):
    """Harrell-Davis estimate of the median: all order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) density, so that with a few samples the
    estimate does not jump whenever two middle values swap ranks."""
    x = np.sort(xs)
    a = (len(x) + 1) / 2
    grid = np.linspace(0, 1, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), grid, cdf))
    return float(np.dot(weights, x))


def check(calls, reference):
    """Mark each call ok when it returned and matched its reference."""
    for c in calls:
        c["ok"] = not c["error"] and c["fingerprint"] == reference.get(c["name"])
    return calls


def end_to_end(res):
    warm = [p["calls_s"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    lat = [c["latency_s"] for c in res["calls"] if c["pass"] > 0]
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["passes"][0]["calls_s"],
        "warm_pass_s": statistics.median(warm),
        "op_p50_s": hd_median(lat),
        "ok_ratio": sum(c["ok"] for c in res["calls"]) / len(res["calls"]),
    }


def per_layer(res):
    layers = dict(res["layers"])
    wall = lambda traced: [p["wall_s"] for p in res["passes"]
                           if p["pass"] > 0 and p["traced"] is traced]
    layers["trace.overhead"] = (statistics.median(wall(True)) /
                                statistics.median(wall(False)))
    return {k: layers.get(k, 0.0) for k in PER_LAYER}


def summarize(res, reference, trace):
    """The run's result line: correctness against the reference, and the
    end-to-end (trace off) or per-layer (trace on) metrics."""
    calls = check(res["calls"], reference)
    failed = sum(not c["ok"] for c in calls)
    if trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer(res).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(res).items()}
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": metrics}


def run_jvm(cmd, run_dir, limit_s):
    """Run the benchmark JVM to its end and return its result file."""
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd + ["--out", out], stdout=fh, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM hung for {limit_s:.0f} s; see {log_path}")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"perfbench: no library sources at {LIB_SRC}; "
                         "run from the repository root")
    spec = WORKLOADS[a.workload]
    load = os.getloadavg()
    digest = source_digest()
    b = build(digest)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data, reference = inputs(a.seed, spec, b, run_dir)
    calls = call_order(spec, a.seed)
    spans = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={run_dir}", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", b["classpath"], "perfbench.Main",
            "--kind", spec["kind"], "--data", data, "--calls", ",".join(calls),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--gate", spec["gate"],
            "--scratch", run_dir, "--spans", spans])
    try:
        res = run_jvm(cmd, run_dir, hang_limit_s(a.seconds))
        env = res["env"]
        rows = {n: pq.ParquetFile(os.path.join(data, f"{n}.parquet")).metadata.num_rows
                for n in env["leaf_bytes"]}
    finally:
        for tmp in ("spark-local", "bed", "data"):
            shutil.rmtree(os.path.join(run_dir, tmp), ignore_errors=True)

    log(f"env nproc={cores} xmx_mb={env['xmx_mb']} gc={env['gc']} spark={env['spark']} "
        f"java={env['java']} commit={git_commit()} sources={digest} seed={a.seed} "
        f"load={load[0]:.2f},{load[1]:.2f},{load[2]:.2f}")
    for name, nbytes in env["leaf_bytes"].items():
        log(f"input {name}: rows={rows[name]} leaf_bytes={nbytes} "
            f"(gate {env['gate_bytes']})")

    result = summarize(res, reference, a.trace)
    for c in res["calls"]:
        if not c["ok"]:
            log(f"FAILED pass {c['pass']} {c['name']}: "
                f"{c['error'] or 'got ' + c['fingerprint'] + ' want ' + reference.get(c['name'], '?')}")
    n_warm = sum(c["pass"] > 0 for c in res["calls"])
    cache_left = sum(c["cache_left_bytes"] for c in res["calls"]) / 1048576
    log(f"passes={len(res['passes'])} warm_calls={n_warm} "
        f"cache_left_mb={cache_left:.2f} setup_s={res['setup_s']:.3f}")
    for c in res["calls"]:
        if c["pass"] <= 1:
            log(f"call pass={c['pass']} {c['name']}: {c['latency_s']:.3f} s "
                f"branch=[{c['branch']}] left={c['cache_left_bytes']}")
    if a.trace:
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
