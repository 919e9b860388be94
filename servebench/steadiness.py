#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per (workload, seed) and writes, per workload and
metric, the ten values, their median, first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median.

    python3 servebench/steadiness.py --seeds 1-10 --out servebench/STEADINESS.json
    python3 servebench/steadiness.py --workloads mixed_window --seeds 1-5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return None


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {"run_seconds": bench["run_seconds"], "seeds": a.seeds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0, c0 = time.time(), cpu_times()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"], cwd=ROOT, check=True, capture_output=True, text=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["wall_s"] = round(time.time() - t0, 1)
            c1 = cpu_times()
            # CPU time the hypervisor gave to other guests: a loaded host
            res["steal_pct"] = round(100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1]), 1) if c0 else None
            runs.append(res)
            print(w, s, res["wall_s"], "s", res["steal_pct"], "% steal", res["attempted"], "statements",
                  res["failed"], "failed",
                  {k: round(v["value"], 3) for k, v in res["metrics"].items()}, flush=True)
        stats = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            stats[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                                "spread": (q3 - q1) / med, "bound": m["bound"], "values": vals}
            print(f"  {w} {m['name']}: median {med:.4g}, spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
        report["workloads"][w] = {"attempted": [r["attempted"] for r in runs],
                                  "failed": [r["failed"] for r in runs],
                                  "wall_s": [r["wall_s"] for r in runs],
                                  "steal_pct": [r["steal_pct"] for r in runs], "metrics": stats}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
