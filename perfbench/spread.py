#!/usr/bin/env python3
"""Run one workload over several seeds and print, per end-to-end
metric, the median and the interquartile range as a share of it.

    python3 perfbench/spread.py <workload> [first_seed] [n_seeds] [seconds]
"""
import json
import re
import os
import statistics
import subprocess
import sys
import time


def steal_s():
    """CPU time stolen by the hypervisor so far, all CPUs (Linux)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main(argv):
    workload = argv[0]
    first = int(argv[1]) if len(argv) > 1 else 1
    n = int(argv[2]) if len(argv) > 2 else 5
    seconds = argv[3] if len(argv) > 3 else str(json.load(open("BENCHMARK.json"))["run_seconds"])
    values = {}
    for seed in range(first, first + n):
        steal0, t0 = steal_s(), time.time()
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                              "--seconds", seconds, "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print("seed %d: exit %d" % (seed, out.returncode))
            continue
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s wall=%.0fs steal=%.1fs %s" % (seed, r["correct"], time.time() - t0, steal_s() - steal0,
              " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
        log = os.path.join(".bench_work", workload, "jvm.log")
        if os.path.exists(log):
            print("   ", " ".join(re.search(r"([0-9.]+) s\b", l).group(1)
                               for l in open(log) if l.startswith("[perfbench] %s " % workload)))
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2:
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print("%-14s median %.4g  iqr/median %.3f  n=%d" % (k, med, (q3 - q1) / med, len(vs)))


if __name__ == "__main__":
    main(sys.argv[1:])
