#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the engine and the
benchmark from source (once per source hash), generates the workload's
inputs from the seed, starts one JVM running Spark at local[nproc],
warms up on a seed-distinct input, measures closed-loop operations for
about `--seconds` seconds, checks every output, and prints every metric
by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170.0


def jvm_heap():
    """The repo's tier-1 heap formula: half the RAM, clamped to [2, 8] GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# the javaOptions of build.sbt, so the measured code runs as in the repo harness
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_cmd(classpath, args, main="graftbench.Main"):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{jvm_heap()}", "-XX:ReservedCodeCacheSize=1g",
             "-Dspark.buffer.pageSize=4m",
             # keep every file inside the checkout: temp files, and no
             # hsperfdata in the system temp dir
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-XX:-UsePerfData"]
    flat = [x for k, v in args.items() for x in (f"--{k}", str(v))]
    return ["java"] + opts + ["-cp", classpath, main] + flat


def run_jvm(classpath, args, deadline):
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(jvm_cmd(classpath, args), stdout=out, stderr=subprocess.STDOUT,
                             cwd=WORK)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM exceeded the run limit; log tail:\n{tail(log)}")
    if code != 0:
        raise RuntimeError(f"JVM exited {code}; log tail:\n{tail(log)}")


def tail(path, n=25):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S
    classpath = build.ensure_built(ROOT)
    wl = workloads.WORKLOADS[a.workload]
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    jvm_args = {"workload": a.workload, "work": WORK, "seconds": a.seconds,
                "trace": a.trace, "seed": a.seed, "cpus": os.cpu_count() or 1,
                "run": f"{a.workload}-{a.seed}-{a.trace}"}
    gen_s = []
    if wl["kind"] == "registry":
        # each pass gets the corpus written afresh into its own directory;
        # every write is one set-up repetition
        dirs = []
        for i in range(wl["gen_reps"]):
            d = os.path.join(WORK, f"corpus_{i}")
            t0 = time.time()
            corpus.write_copy(wl["scale"], d, a.seed)
            gen_s.append(time.time() - t0)
            dirs.append(d)
        warm_t0 = time.time()
        warm = os.path.join(WORK, "warm_corpus")
        corpus.write_copy(wl["warm_scale"], warm, a.seed + 1_000_003)
        warm_gen_s = time.time() - warm_t0
        jvm_args.update(tables=",".join(dirs), warm=warm, queries=",".join(wl["queries"]))
    else:
        warm_gen_s = 0.0
        jvm_args.update({k: wl[k] for k in ("increments", "file-seconds", "corrupt")})
    launch_ms = time.time() * 1000
    run_jvm(classpath, jvm_args, deadline)
    with open(os.path.join(WORK, "raw.json")) as f:
        raw = json.load(f)
    session_s = (raw["ready_ms"] - launch_ms) / 1000
    gen_s = gen_s or raw["gen_s"]
    setup_s = session_s + statistics.median(gen_s) + warm_gen_s + raw["warmup_s"]
    checks = (oracle.check_registry(raw, ROOT, os.path.join(WORK, "corpus_0"), wl["tables"])
              if wl["kind"] == "registry" else {})
    result = workloads.summarize(raw, wl, a.trace, setup_s, checks)
    result["human"].insert(0, f"setup: session {session_s:.3f} s, generation "
                              f"{statistics.median(gen_s):.3f} s (median of {len(gen_s)}), "
                              f"warm-up corpus {warm_gen_s:.3f} s, warm-up {raw['warmup_s']:.3f} s")
    for line in result["human"]:
        print(line)
    print(json.dumps(result["final"]))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception as e:  # loud, and no result line
        print(f"benchmark failed: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)
