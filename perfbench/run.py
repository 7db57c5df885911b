#!/usr/bin/env python3
"""The repo's benchmark: one workload per run, at local[nproc] in one JVM.

    python3 perfbench/run.py --workload scale_crawl --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. It builds the program and the harness
(perfbench/build.py), runs the workload (perfbench/scala/graft/perfbench),
checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 they are the
per-layer metrics, and the run also writes its spans to
.bench_build/traces/<workload>.jsonl. What each metric means on each
workload, and which end-to-end metric a per-layer metric should move, is in
perfbench/metrics.json. The JVM's raw result of the last run is kept in
.bench_build/last.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import check_catalog  # noqa: E402

WORKLOADS = ("scale_crawl", "seen_kernel", "catalog")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap_mb():
    """A third of the machine's memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2048
    return max(2048, min(6144, total_kb // 1024 // 3))


def run_jvm(root, classes, workload, seed, seconds, trace):
    bdir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bdir, "work", f"{workload}-{os.getpid()}-{trace}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    traces = os.path.join(bdir, "traces")
    os.makedirs(traces, exist_ok=True)
    heap = heap_mb()
    # a fixed heap size keeps the JVM's peak resident set from following GC
    # resizing decisions, which vary from run to run
    cmd = [build.java(), f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", os.pathsep.join([classes] + build.spark_jars()), "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"), "--out", out,
            "--spans", os.path.join(traces, f"{workload}.jsonl")]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        log.close()
    if not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"{workload}: the JVM ended with code {proc.returncode} and no result")
    with open(out) as f:
        res = json.load(f)
    return res, work


def golden_checks(workload, res):
    problems = []
    obs = res["observed"]
    if workload == "scale_crawl":
        with open(os.path.join(HERE, "golden", "scale_crawl.json")) as f:
            want = json.load(f)["digests"].get(str(res["seed"]))
        if want is None:
            print(f"note: no golden digest for seed {res['seed']}; invariant checks only")
        elif obs.get("scale_digest") != want:
            problems.append(f"scale crawl digest {obs.get('scale_digest')} != golden {want}")
    if workload == "catalog":
        problems += check_catalog.check(obs["catalog_results"],
                                        os.path.join(HERE, "data", "sf0.01"),
                                        obs["catalog_oracle"])
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        meaning = json.load(f)
    classes = build.build(root)
    bdir = os.path.join(root, build.BUILD_DIR)
    with open(classes + ".stamp") as f:
        stamp = f.read()[:16]
    baseline_file = os.path.join(bdir, "untraced", f"{a.workload}-s{a.seed}-{stamp}.json")

    def save_baseline(res):
        os.makedirs(os.path.dirname(baseline_file), exist_ok=True)
        with open(baseline_file, "w") as f:
            json.dump({"seed": res["seed"], "run_s": res["end_to_end"]["run_s"]}, f)

    # the traced run reports its overhead against an untraced run of the same
    # seed and sources: make one first if this checkout has none
    if a.trace == 1 and not os.path.exists(baseline_file):
        base, work = run_jvm(root, classes, a.workload, a.seed, a.seconds, 0)
        shutil.rmtree(work, ignore_errors=True)
        if not base["problems"]:
            save_baseline(base)

    res, work = run_jvm(root, classes, a.workload, a.seed, a.seconds, a.trace)
    shutil.copy(os.path.join(work, "result.json"), os.path.join(bdir, "last.json"))
    try:
        problems = res["problems"] + golden_checks(a.workload, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    dropped = res["dropped_events"]
    attempted = res["attempted"] + dropped
    failed = res["failed"] + dropped
    correct = not problems and failed == 0
    if problems:
        failed = attempted
    e2e = res["end_to_end"]
    if a.trace == 0 and correct:
        save_baseline(res)

    print("host " + json.dumps(res["host"], sort_keys=True))
    print(f"workload {a.workload} seed {a.seed} run {res['run_id']}")
    for p in problems:
        print("problem: " + p)
    if "read_tail" in res["observed"]:
        print("read_tail_ms is the " + res["observed"]["read_tail"])
    if "serve_share" in res["observed"]:
        print("share of the serve wall: " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(res["observed"]["serve_share"].items())))
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted}, "
          f"{dropped} listener events dropped)")

    # a run that failed may lack measurements; it reports them as 0
    metrics = {}
    if a.trace == 0:
        for m in bench["end_to_end"]:
            metrics[m["name"]] = {"value": e2e.get(m["name"], 0), "unit": m["unit"]}
    else:
        layer = res["per_layer"]
        if os.path.exists(baseline_file) and "run_s" in e2e:
            with open(baseline_file) as f:
                base = json.load(f)
            layer["trace.overhead_s"] = e2e["run_s"] - base["run_s"]
            layer["trace.overhead_frac"] = layer["trace.overhead_s"] / base["run_s"]
            print(f"tracing overhead {layer['trace.overhead_s']:.3f} s against the untraced "
                  f"run_s {base['run_s']:.3f} s of the same seed and sources")
        for m in bench["per_layer"]:
            name = m["name"]
            if name in layer:
                value = layer[name]
            elif a.workload in meaning["per_layer"][name]["workloads"] and correct:
                raise SystemExit(f"{a.workload}: per-layer metric {name} was not measured")
            else:
                value = 0  # the layer does no work on this workload
            metrics[name] = {"value": value, "unit": m["unit"]}
        with open(os.path.join(bdir, "traces", f"{a.workload}.metrics.json"), "w") as f:
            json.dump({"host": res["host"], "seed": a.seed, "metrics": metrics,
                       "end_to_end": e2e}, f, indent=1, sort_keys=True)
    for name, m in metrics.items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
