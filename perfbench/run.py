#!/usr/bin/env python3
"""Repository benchmark: cold/warm KG builds on the sweep and the blocked tier.

Usage (from the repository root):
    python3 perfbench/run.py --workload kg_mentions --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source into .bench_build/ (once per
source digest), runs one closed-loop measurement in a fresh JVM on
local[nproc], checks every output against the workload's referee, prints each
metric by name with its unit, and prints one JSON object as the last line.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
XMX = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, or the installation that holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob("perfbench/scala/*.scala") + ["perfbench/build.sh"])
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def build():
    if not os.path.isdir("src/main/scala"):
        fail("no src/main/scala here: run from the repository root")
    digest = sources()
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    t0 = time.time()
    done = subprocess.run(["bash", "perfbench/build.sh", CLASSES],
                          stdout=sys.stderr, stderr=sys.stderr,
                          env=dict(os.environ, SPARK_HOME=spark_home()))
    if done.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return digest


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, seed, seconds, trace, work, cores):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", f"{CLASSES}:{spark_home()}/jars/*", "graft.perfbench.PerfBench",
              workload, str(seed), str(seconds), str(trace), work, str(cores)])
    log_path = os.path.join(BUILD, f"{workload}.log")
    env = dict(os.environ, LC_ALL="C.utf8")
    with open(log_path, "w") as log:
        try:
            done = subprocess.run(cmd, stdout=log, stderr=log, env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in {JVM_TIMEOUT_S} s; see {log_path}")
    if done.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"{workload} JVM exited with {done.returncode}; see {log_path}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
    except OSError:
        fail("no BENCHMARK.json here: run from the repository root")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    digest = build()

    cores = len(os.sched_getaffinity(0))
    load_before, ticks_before = loadavg(), cpu_ticks()
    t0 = time.time()
    res = run_jvm(args.workload, args.seed, args.seconds, args.trace,
                  os.path.join(BUILD, "work", args.workload), cores)
    load_after, ticks_after = loadavg(), cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests during the run
    steal = (ticks_after[0] - ticks_before[0]) / max(ticks_after[1] - ticks_before[1], 1)

    failed = res["failed"]
    e2e = {m: res[m] for m in ("setup_s", "cold_s", "warm_s", "triples_per_s",
                               "triple_precision", "triple_recall", "heap_peak_mb")}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    produced = res["per_layer"] if args.trace else e2e
    missing = [m["name"] for m in wanted if produced.get(m["name"]) is None]
    if missing:
        fail(f"{args.workload} produced no value for: {', '.join(missing)}")

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={cores} local[{cores}] -Xmx{XMX} commit={commit() or 'none'} "
          f"source_sha256={digest[:16]} loadavg_1m_before={load_before} "
          f"loadavg_1m_after={load_after} steal_share={steal:.3f} "
          f"wall_s={time.time() - t0:.1f}")
    print(f"n_ops={res['n_ops']} warm_samples_s={res['warm_samples_s']} "
          f"attempted={res['attempted']} failed={failed} triples={res['triples']} "
          f"reference_triples={res['reference_triples']} referee_s={res['referee_s']:.1f} "
          f"setup_reps_s={res['setup_reps_s']} session_start_s={res['session_start_s']}")
    if args.trace:
        print(f"traced_walls_s={res['traced_walls_s']} "
              f"traced_span_totals_s={res['traced_span_totals_s']} drifted={res['drifted']}")
    metrics = {}
    for m in wanted:
        v = float(produced[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} = {v:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
