#!/usr/bin/env python3
"""k8streamspark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload live_events --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), starts
from a clean slate, runs the workload in one JVM (perfbench/src), checks the
outputs and prints every metric by name and unit. The last stdout line is
the JSON result: with --trace 0 the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (and the tracing overhead against the
latest untraced run of the workload, on the line before). See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("live_events", "live_services", "query_mix")
# The engine memoizes derived relations and replay staging under these
# hard-coded /tmp prefixes; a run removes them before and after itself so
# their rebuild always lands in setup_s and no run reuses another's.
ENGINE_TMP = ("graft-rt-", "graft-replay-", "graft-ssreplay-", "graft-docreplay-",
              "graft-tqreplay-", "graft-mv-")
QUERY_SF = 0.01
RUN_LIMIT_S = 160
# Layers a workload leaves idle report 0 in the traced run.
IDLE = {"query_mix": ("sources.", "streaming.", "k8s.", "sinks."),
        "live_events": ("queries.",), "live_services": ("queries.",)}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def clean_engine_tmp():
    for p in ENGINE_TMP:
        for d in glob.glob(os.path.join("/tmp", p + "*")):
            shutil.rmtree(d, ignore_errors=True)


def source_id():
    """git commit when the checkout is a repository, else a hash of src/."""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except Exception:
        import hashlib
        h = hashlib.sha256()
        for d, _, fs in sorted(os.walk(os.path.join(ROOT, "src"))):
            for f in sorted(fs):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        return "src-sha256:" + h.hexdigest()[:16]


def cpu_times():
    """Aggregate (steal, total) jiffies; steal is time the host gave away."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(args, work, deadline):
    cmd = build.jvm_command(BUILD, work) + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        fail(f"workload JVM ended with {code}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.makedirs(BUILD, exist_ok=True)
    t_build = time.monotonic()
    build.build(ROOT, BUILD)
    build_s = time.monotonic() - t_build
    deadline = time.monotonic() + RUN_LIMIT_S

    # Clean slate: nothing from an earlier run survives into this one.
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    clean_engine_tmp()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    nproc = len(os.sched_getaffinity(0))
    seed = a.seed % (1 << 62)
    out = os.path.join(work, "result.json")
    jargs = ["--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--out", out, "--nproc", str(nproc)]
    sf_dir = os.path.join(work, "sf")
    if a.workload == "query_mix":
        import datagen
        os.makedirs(sf_dir)
        t0 = time.monotonic()
        datagen.generate(sf_dir, QUERY_SF, seed)
        jargs += ["--sf", sf_dir, "--fixture-s", repr(time.monotonic() - t0)]
    try:
        run_jvm(jargs, work, deadline)
        with open(out) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        mismatches = []
        if a.workload == "query_mix":
            import oracle
            mismatches = oracle.check(sf_dir, os.path.join(work, "qout"), res["info"]["queries"])
            failed = len(mismatches)
    finally:
        clean_engine_tmp()
    load_end = os.getloadavg()
    cpu_end = cpu_times()

    if a.trace:
        want = spec["per_layer"]
        got = dict(res["layers"])
        for m in want:
            if m["name"] not in got and m["name"].startswith(IDLE[a.workload]):
                got[m["name"]] = 0.0
    else:
        want = spec["end_to_end"]
        got = res["e2e"]
    metrics = {}
    for m in want:
        v = got.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured ({v})")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "source": source_id(), "nproc": nproc,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "cpu_steal_share": (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1]),
        "java": res["java_vm"], "spark": res["spark_version"],
        "spark_conf_set_by_benchmark": res["bench_conf"], "session_conf": res["session_conf"],
        "build_s": build_s, "wall_s": time.monotonic() - t_start,
        "failed_ratio": failed / max(attempted, 1), "mismatches": mismatches[:20],
        "info": res["info"],
    }
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"nproc={nproc} source={meta['source']}")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_ratio':40s} {meta['failed_ratio']:>16.6g} ({failed} of {attempted})")
    if not a.trace:
        print("  end-to-end metrics of the traced run minus these: see the --trace 1 run")
    else:
        base = sorted(glob.glob(os.path.join(BUILD, "results", f"{a.workload}-*-t0.json")),
                      key=os.path.getmtime)
        same = [p for p in base if f"-{a.seed}-t0" in p]
        if same or base:
            with open((same or base)[-1]) as f:
                untraced = json.load(f)["e2e"]
            meta["tracing_overhead"] = {k: res["e2e"][k] - v for k, v in untraced.items()
                                        if k in res["e2e"]}
            meta["tracing_overhead_vs"] = os.path.basename((same or base)[-1])
            for k, v in meta["tracing_overhead"].items():
                print(f"  tracing overhead {k:23s} {v:>+16.6g}")
        else:
            print("  tracing overhead: no untraced run of this workload in this checkout yet")
    with open(os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"e2e": res["e2e"], "layers": res["layers"], "meta": meta}, f)
    print("meta " + json.dumps(meta, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
