#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's run-to-run spread.

    python3 perfbench/spread.py --workloads fused_mix churn --seeds 1-10 --seconds 15

For each workload and metric it prints the median of the runs and the
distance between the first and third quartile (statistics.quantiles, n=4)
as a share of the median. With --json it also writes every run's result
and full record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()
    runs = {}
    for w in a.workloads:
        for s in seeds(a.seeds):
            start = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: failed (exit {p.returncode})", flush=True)
                continue
            r = json.loads(lines[-1])
            if len(lines) >= 2:
                r["record"] = json.loads(lines[-2])
            runs.setdefault(w, []).append(r)
            print(f"{w} seed {s} ({time.time() - start:.0f} s): correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())), flush=True)
    for w, rs in runs.items():
        print(f"\n{w}: {len(rs)} runs")
        for k in sorted(rs[0]["metrics"]):
            vs = [r["metrics"][k]["value"] for r in rs if k in r["metrics"]]
            med = statistics.median(vs)
            if len(vs) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                print(f"  {k:32s} median {med:12.4f}  iqr/median {(q3 - q1) / med:.3f}")
            else:
                print(f"  {k:32s} median {med:12.4f}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(runs, fh)


if __name__ == "__main__":
    main()
