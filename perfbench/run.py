#!/usr/bin/env python3
"""The benchmark's one command. From the repository root:

    python3 perfbench/run.py --workload <geo|serve|maintain|curate> \\
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

A run builds the engine and the benchmark from source when they changed
(perfbench/build.py), starts one JVM that sets the workload up from the
seed and runs its timed closed loop, checks every output, and prints as
its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`. The line before it carries the run's sizes, per
operation figures and provenance. The raw result stays under
.bench_build/results/ for perfbench/summarise.py.

`--smoke` runs every workload at a tiny size in both modes and asserts
that every metric BENCHMARK.json names is printed with its unit and that
every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import summarise  # noqa: E402

WORKLOADS = ("geo", "serve", "maintain", "curate")
OUT = build.OUT
JVM_TIMEOUT_S = 170
HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, seed, seconds, trace, smoke, setups, stamp):
    tag = f"{workload}-s{seed}-t{int(trace)}{'-smoke' if smoke else ''}"
    work = os.path.abspath(os.path.join(OUT, "work", f"{tag}-{os.getpid()}"))
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.abspath(os.path.join(results, tag + ".json"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_conf = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log_conf}", *ADD_OPENS,
           "-cp", build.classpath(), "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work, "--out", out,
           "--setups", str(setups)] + (["--smoke"] if smoke else [])
    cpus = os.cpu_count() or 1
    before, load0 = cpu_ticks(), loadavg()
    try:
        # Spark would put shuffle files in SPARK_LOCAL_DIRS, outside the checkout
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S, env=env)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after, load1 = cpu_ticks(), loadavg()
    if code != 0:
        sys.exit(f"run: benchmark JVM failed ({code})")
    with open(out) as f:
        r = json.load(f)
    steal = None
    if before and after and after[1] > before[1]:
        steal = (after[0] - before[0]) / (after[1] - before[1])
    r["provenance"] = {
        "seed": seed, "commit": commit(), "source_sha256": stamp,
        "nproc": cpus, "loadavg_start": load0, "loadavg_end": load1,
        "steal_share": steal, **r["engine"],
    }
    with open(out, "w") as f:
        json.dump(r, f)
    return r


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def result_line(r, trace):
    if trace:
        units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in summarise.per_layer(r).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in summarise.end_to_end(r).items()}
    attempted, failed = r["attempted"], min(r["failed"], r["attempted"])
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def one(a, stamp):
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, a.smoke, 1 if a.smoke else 3, stamp)
    info = {"workload": a.workload, "sizes": r["sizes"], "detail": summarise.detail(r),
            "failures": r["failures"], "provenance": r["provenance"]}
    if a.trace == 1:
        info["layers"] = summarise.op_layers(r)[0]
    print(json.dumps(info))
    return result_line(r, a.trace == 1)


def smoke(stamp):
    problems = []
    for w in WORKLOADS:
        for trace, names in ((0, spec()["end_to_end"]), (1, spec()["per_layer"])):
            t0 = time.time()
            line = one(argparse.Namespace(workload=w, seed=1, seconds=4, trace=trace, smoke=True), stamp)
            print(json.dumps(line))
            print(f"smoke: {w} trace={trace} {time.time() - t0:.1f}s", file=sys.stderr)
            if not line["correct"]:
                problems.append(f"{w} trace={trace}: {line['failed']} failed")
            for m in names:
                got = line["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or without unit {m['unit']}")
    if problems:
        sys.exit("smoke failed:\n" + "\n".join(problems))
    print("smoke: every workload printed every metric with its unit; every check passed", file=sys.stderr)


def main():
    # a terminated run still stops its JVM: subprocess.run kills the child
    # on the exception this raises
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not a.smoke and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    # paths below are relative to the repository root
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    stamp = build.build()
    if a.smoke:
        return smoke(stamp)
    print(json.dumps(one(a, stamp)))


if __name__ == "__main__":
    main()
