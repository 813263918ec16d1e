#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep every run's stdout.

    python3 perfbench/sweep.py OUT_DIR [--workloads a,b] [--seeds 1-10] [--trace 0]
    python3 perfbench/sweep.py PARENT_OUT CHANGE_OUT --checkouts PARENT_ROOT,CHANGE_ROOT [...]

Each run's stdout goes to OUT_DIR/<workload>-<seed>-t<trace>.out, the
input `compare.py` reads. Run length is BENCHMARK.json's run_seconds.

With --checkouts, each OUT_DIR gets the runs of the checkout in the same
place, and the checkouts take turns seed by seed, the first to run
alternating between seeds. A drift in the host's speed during the sweep
then lands on both sides alike instead of on whichever set ran second.
Each checkout runs its own BENCHMARK.json command from its own root.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def bench_of(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="+")
    ap.add_argument("--checkouts", default=ROOT, help="comma-separated roots, one per OUT_DIR")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench_of(ROOT)["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    roots = [os.path.abspath(r) for r in a.checkouts.split(",")]
    if len(roots) != len(a.out):
        sys.exit("sweep: give one OUT_DIR per checkout")
    sides = list(zip(roots, [os.path.abspath(o) for o in a.out]))
    for _, out in sides:
        os.makedirs(out, exist_ok=True)
    for w in a.workloads.split(","):
        for n, s in enumerate(seeds(a.seeds)):
            for root, out in (sides if n % 2 == 0 else sides[::-1]):
                bench = bench_of(root)
                path = os.path.join(out, f"{w}-{s}-t{a.trace}.out")
                t0 = time.time()
                with open(path, "w") as f:
                    r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                                       "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                                       cwd=root, stdout=f, stderr=subprocess.DEVNULL)
                print(f"{os.path.basename(out)} {w} seed {s}: exit {r.returncode} in {time.time() - t0:.1f} s",
                      file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
