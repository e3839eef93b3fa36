#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program):

  1. the generator is deterministic: one seed gives byte-identical input
     files, another seed different ones;
  2. a planted wrong result (one pair dropped, or one distance moved by
     1e-6) makes the run report a failed operation and correct=false;
  3. a planted exception counts as a failed operation, and its time
     enters the median as +infinity, never as a fast sample.

    python3 emdbench/selftest.py        # from the root of a checkout; ~5 minutes
"""
import filecmp
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
OUT = os.path.join(ROOT, ".bench_build", "selftest")


def run(*args):
    r = subprocess.run(RUN + list(args), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    return r.returncode, lines


def generate(workload, seed, name):
    d = os.path.join(OUT, name)
    shutil.rmtree(d, ignore_errors=True)
    code, _ = run("--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "0",
                  "--gen-only", d)
    assert code == 0, f"generation of {name} exited {code}"
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    return (not cmp.left_only and not cmp.right_only and not cmp.diff_files and not cmp.funny_files
            and all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs))


def main():
    failures = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in ["cube30-select", "line8-dense"]:
        a, b, c = generate(w, 7, w + "-a"), generate(w, 7, w + "-b"), generate(w, 8, w + "-c")
        expect(same_tree(a, b), f"{w}: seed 7 twice gives byte-identical inputs")
        expect(not filecmp.cmp(os.path.join(a, "c0", "hist.txt"), os.path.join(c, "c0", "hist.txt"),
                               shallow=False),
               f"{w}: seeds 7 and 8 give different histograms")

    code, lines = run("--workload", "cube30-select", "--seed", "3", "--seconds", "1", "--trace", "0")
    base = json.loads(lines[-1])
    expect(code == 0 and base["correct"] and base["failed"] == 0,
           f"unplanted run passes its checks ({base['attempted']} operations)")

    for plant in ["drop", "perturb", "throw"]:
        code, lines = run("--workload", "cube30-select", "--seed", "3", "--seconds", "1", "--trace", "0",
                          "--plant", plant)
        res = json.loads(lines[-1])
        expect(code == 1 and not res["correct"] and res["failed"] == 1,
               f"planted {plant}: correct={res['correct']} failed={res['failed']} exit {code}")
        if plant == "throw":
            # the failed sample enters the median as +infinity: the reported
            # median is at least the median of the successful samples
            ok, after_failure = [], False
            for l in lines:
                f = l.split()
                if l.startswith("FAILED threshold"):
                    after_failure = True
                elif l.startswith("op ") and f[2] == "threshold" and "(warm)" not in l:
                    if not after_failure:
                        ok.append(float(f[3]))
                    after_failure = False
            v = res["metrics"]["threshold_s"]["value"]
            expect(ok and v >= statistics.median(ok),
                   f"planted throw: threshold_s {v:.3f} >= median of the successful samples {ok}")
    shutil.rmtree(OUT, ignore_errors=True)
    print("selftest:", "PASS" if not failures else f"FAIL ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
