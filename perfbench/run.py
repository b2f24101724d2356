#!/usr/bin/env python3
"""Benchmark command:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py) on first use, runs
one workload in one JVM at local[N] (N = usable CPUs, at most 8), prints the
host context and every metric by name with its unit, and ends with one JSON
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Exits 1 when an output check fails, 2 when the build or set-up fails.
Run from the root of the repository; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("mixed_assemble", "long_docs", "binary_commit", "dedup_clusters")
MAX_CORES = 8
JVM_TIMEOUT_S = 170


def host_sample():
    """(1/5/15-min loadavg, steal jiffies, total jiffies) from /proc."""
    load = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    cpu = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return load, cpu[7] if len(cpu) > 7 else 0, sum(cpu[:8])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        declared = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        wanted = declared["per_layer" if args.trace else "end_to_end"]
        out = build.ensure_built()
        nproc = len(os.sched_getaffinity(0))
        cores = max(1, min(nproc, MAX_CORES))
        work = build.fresh_work_dir(args.workload)
        cmd = build.jvm_command(out, work, [args.workload, str(args.seed), str(args.seconds),
                                            str(args.trace), str(cores), str(work)],
                                "-XX:SharedArchiveFile")
    except (OSError, ValueError, KeyError, build.BuildFailed) as e:
        print(f"perfbench: set-up failed: {e}", file=sys.stderr)
        return 2

    load0, steal0, total0 = host_sample()
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1, steal1, total1 = host_sample()

    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-6000:])
        print(f"perfbench: JVM exited {r.returncode} without a result", file=sys.stderr)
        return 1
    res = json.loads(lines[-1][len("PERFBENCH "):])

    host = {"nproc": nproc, "master": f"local[{cores}]", "loadavg_before": load0,
            "loadavg_after": load1, "steal_jiffies": steal1 - steal0,
            "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            "wall_s": round(time.time() - t0, 3),
            **{k: res["info"].pop(k) for k in
               ("java_version", "spark_version", "max_heap_mb", "local_cores")}}
    print("host " + json.dumps(host))
    print("info " + json.dumps(res["info"]))
    for name, m in res["metrics"].items():
        print(f"metric {name} = {m['value']} {m['unit']}")
    for e in res["errors"]:
        print(f"check failed: {e}")

    metrics = {}
    for w in wanted:
        m = res["metrics"].get(w["name"])
        if m is None or m["value"] is None or m["unit"] != w["unit"]:
            print(f"perfbench: no value for declared metric {w['name']} [{w['unit']}]",
                  file=sys.stderr)
            return 1
        metrics[w["name"]] = {"value": m["value"], "unit": m["unit"]}
    correct = res["correct"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
