#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics.

    python3 perfbench/steady.py --runs 10 [--workloads import_fresh,browse_pages] [--first-seed 100]

Runs each workload --runs times, each time with another seed, with the
run length and metrics of BENCHMARK.json. For every metric it prints the
median, the quartiles (statistics.quantiles, n=4) and the spread: the
distance between the quartiles as a share of the median. A spread of a
third of the metric's bound in BENCHMARK.json or more is flagged: the aim
is a bound at least three times the largest spread seen on any workload.
It also prints the share of failed operations, and for each run the share
of the host's CPU time the hypervisor stole while it ran (`steal` in
/proc/stat, where the kernel reports it).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return xs[7], sum(xs)


def stolen(before, after):
    if before is None or after is None or after[1] == before[1]:
        return "n/a"
    return f"{100 * (after[0] - before[0]) / (after[1] - before[1]):.1f}%"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        vals, shares = {}, set()
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t, c = time.time(), cpu_times()
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL, text=True)
            wall, steal = time.time() - t, stolen(c, cpu_times())
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            shares.add(f"{res['failed']}/{res['attempted']}")
            print(f"{w} seed {seed}: wall={wall:.1f}s steal={steal} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        report[w] = {"failed/attempted": sorted(shares)}
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            report[w][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
            flag = "" if spread < bounds[k] / 3 else "  >= bound/3"
            print(f"  {w:14} {k:12} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
                  f"spread {spread:6.2%}  bound {bounds[k]:.2f}{flag}", flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
