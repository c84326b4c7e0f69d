#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one client.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark's JVM program from source
(perfbench/build.py) into $CARGO_TARGET_DIR (default .bench_build), runs
the workload's gates in a single JVM at local[nproc] against the sf0.1
tables, checks every gate's
result against its recorded digest, and prints one JSON object as the last
line of standard output: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The line before it is the full record of the run
(noise record, per-pass figures, gate orders).

  python3 perfbench/run.py --record OUT_DIR

runs every workload's gates once and writes their results as parquet plus
digests.json and oracle_sql.json to OUT_DIR; see perfbench/README.md for
how a digest set is checked against the DuckDB oracle and adopted.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within this

def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def tail(values):
    """(value, percentile, samples beyond): nearest-rank p90, or the highest
    percentile with at least ten samples beyond it once n reaches 100."""
    v = sorted(values)
    n = len(v)
    rank = max(n - 10, math.ceil(0.9 * n))
    return v[rank - 1], 100.0 * rank / n, n - rank


def union_len(iv):
    total, cur = 0.0, None
    for s, e in sorted(iv):
        if cur and s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(span_file):
    """Per traced pass, the summed self time of each span kind: a span's
    duration minus the part of it its child spans cover."""
    spans = [json.loads(line) for line in open(span_file) if line.strip()]
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    per_pass = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_len([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                             for c in children.get(s["span"], [])
                             if min(b, c["end_ms"]) > max(a, c["start_ms"])])
        kinds = per_pass.setdefault(s["pass"], {})
        kinds[s["kind"]] = kinds.get(s["kind"], 0.0) + max(0.0, (b - a) - covered) / 1000.0
    return per_pass


def scratch_leftovers(root):
    """graft_* directories the program left in the run's scratch root."""
    dirs = size = 0
    for d, subdirs, files in os.walk(root):
        for sd in list(subdirs):
            if sd.startswith("graft_"):
                dirs += 1
                for dd, _, ff in os.walk(os.path.join(d, sd)):
                    size += sum(os.path.getsize(os.path.join(dd, f)) for f in ff
                                if not os.path.islink(os.path.join(dd, f)))
                subdirs.remove(sd)
    return dirs, size


def cpu_ticks():
    """The host's aggregate CPU tick counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(classpath, archive, scratch, args, limit):
    """Runs the benchmark JVM in the scratch root; its log stays there and is
    shown only when the JVM fails."""
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    log_path = os.path.join(scratch, "jvm.log")
    cmd = build.jvm_args(classpath, scratch) + [
        f"-XX:SharedArchiveFile={archive}", "perfbench.Runner"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=scratch,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()
                                     if " INFO " not in l and " WARN " not in l)[-6000:])
        return f"benchmark JVM failed ({rc})"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=build.DEFAULT_DATA)
    ap.add_argument("--record", metavar="OUT_DIR")
    o = ap.parse_args()

    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if not o.record and o.workload not in workloads:
        die(f"unknown workload {o.workload!r}; known: {', '.join(workloads)}")
    if not os.path.isdir(o.data):
        die(f"data directory {o.data} not found")
    classpath, archive, source_stamp = build.build(o.data)

    t_start = time.time()
    load = [os.getloadavg()[0]]
    ticks0 = cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(build.build_dir(), "scratch",
                           f"{o.workload or 'record'}-{o.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        if o.record:
            out = os.path.abspath(o.record)
            gates = [g for w in workloads.values() for g in w["gates"]]
            err = run_jvm(classpath, archive, scratch, [
                "--mode", "record", "--cores", str(cores), "--scratch", scratch,
                "--data", o.data, "--gates", ",".join(gates), "--out", out], 900)
            if err:
                die(err)
            print(f"recorded {len(gates)} gates into {out}")
            return
        out_file = os.path.join(scratch, "result.json")
        trace_dir = os.path.join(build.build_dir(), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        span_file = os.path.join(trace_dir, f"{o.workload}-seed{o.seed}.spans.jsonl")
        err = run_jvm(classpath, archive, scratch, [
            "--mode", "run", "--cores", str(cores), "--scratch", scratch, "--data", o.data,
            "--gates", ",".join(workloads[o.workload]["gates"]), "--seed", str(o.seed),
            "--seconds", str(o.seconds), "--trace", str(o.trace),
            "--digests", os.path.join(HERE, "digests.json"),
            "--out", out_file, "--spans", span_file],
            max(30, RUN_LIMIT_S - (time.time() - t_start)))
        if err:
            die(err)
        r = json.load(open(out_file))
        # after the JVM exited, so its shutdown hooks have run
        tmp_dirs, tmp_bytes = scratch_leftovers(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    load.append(os.getloadavg()[0])
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal_frac = ticks[7] / max(1, sum(ticks))

    plain = [p for p in r["passes"] if not p["traced"]]
    traced = [p for p in r["passes"] if p["traced"]]
    gate_times = [g["total_s"] for p in plain for g in p["gates"] if g["ok"]]
    if not gate_times:
        die("no gate completed")
    gate_tail, tail_pct, tail_beyond = tail(gate_times)
    pass_s = statistics.median(p["wall_s"] for p in plain)
    e2e = {
        "setup_s": r["setup_s"],
        "pass_s": pass_s,
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "gate_p50_s": statistics.median(gate_times),
        "gate_tail_s": gate_tail,
        "rss_peak_mb": r["rss_peak_mb"],
    }
    batch_ms = [b for p in plain for b in p["microbatch_ms"]]
    layers = {}
    if o.trace:
        for k in traced[0]["layers"]:
            layers[k] = statistics.median(p["layers"][k] for p in traced)
        if batch_ms:
            mb_tail = tail(batch_ms)
            layers["stream.microbatch_p50_ms"] = statistics.median(batch_ms)
            layers["stream.microbatch_tail_ms"] = mb_tail[0]
        else:
            layers["stream.microbatch_p50_ms"] = layers["stream.microbatch_tail_ms"] = 0.0
        layers["cache.leaked_rdds"] = statistics.median(p["leaked_rdds"] for p in traced)
        selfs = self_times(span_file)
        for kind in ("gate.build", "gate.execute", "stream.batch", "job", "stage"):
            layers[f"self.{kind}_s"] = statistics.median(
                selfs.get(p["index"], {}).get(kind, 0.0) for p in traced)
        layers["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in traced) - pass_s) / pass_s
        layers["harness.failed_frac"] = r["failed"] / r["attempted"]
        layers["harness.tmp_dirs_left"] = tmp_dirs
        layers["harness.tmp_bytes_left"] = tmp_bytes
        layers["host.loadavg_max"] = max(load + r["loadavg"])
        layers["host.cpu_steal_frac"] = steal_frac

    correct = (r["failed"] == 0 and r["storage_ok"] and all(r["check"].values()))
    record = {
        "workload": o.workload, "seed": o.seed, "seconds": o.seconds, "trace": o.trace,
        "nproc": cores, "loadavg_start": load[0], "loadavg_end": load[-1],
        "host_loadavg_max": max(load + r["loadavg"]), "host_cpu_steal_frac": steal_frac,
        "java": r["java"], "spark": r["spark"], "git_commit": git_commit(),
        "source_sha256": source_stamp, "data": o.data,
        "session_ready_s": r["session_ready_s"], "check_s": r["check_s"],
        "check_order": r["check_order"], "pass_orders": [p["order"] for p in r["passes"]],
        "gate_tail": {"percentile": tail_pct, "n": len(gate_times), "beyond": tail_beyond},
        "microbatches": len(batch_ms), "errors": r["errors"],
        "tmp_dirs_left": tmp_dirs, "tmp_bytes_left": tmp_bytes,
        "leaked_rdds": [p["leaked_rdds"] for p in r["passes"]],
        "passes": [{k: p[k] for k in ("index", "traced", "wall_s", "cpu_s", "gates", "layers")}
                   for p in r["passes"]],
        "span_file": span_file if o.trace else None,
        "end_to_end": e2e,
    }
    print(json.dumps(record))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = layers if o.trace else e2e
    wanted = spec["per_layer" if o.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": correct, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
