#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median, with Python's
statistics.quantiles(values, n=4) — the steadiness test the benchmark is
held to.

    python3 emdbench/spread.py --workload cube30-select --seeds 1-10 --seconds 15 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def cpu_ticks():
    """(steal, total) jiffies of all processors, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values, failures = {}, 0
    for s in seeds(a.seeds):
        st0, tot0 = cpu_ticks()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        st1, tot1 = cpu_ticks()
        steal = (st1 - st0) / max(1, tot1 - tot0)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"seed {s}: no result (exit {r.returncode})")
            failures += 1
            continue
        if not res["correct"]:
            failures += 1
        print(f"seed {s}: steal={steal:.1%} correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:36s} median {med:12.5g}  spread {spread:7.4f}  n={len(vs)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
