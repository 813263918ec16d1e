#!/usr/bin/env python3
"""Summarise one set of runs, or compare a parent set with a change set.

    python3 perfbench/compare.py RUNS_DIR                # spread check
    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR   # A/B verdicts

A set is a directory of `<workload>-<seed>-t<trace>.out` files (stdout
of run.py, as sweep.py writes them; make a parent and a change set in
one interleaved `sweep.py --checkouts` call); the last line of each is the
result JSON. For each workload x metric it prints the median, the
quartiles and the spread (quartile distance over the median). With two
sets it pairs runs by seed and adds the change's pair win-rate and a
verdict against the metric's bound in BENCHMARK.json:

  improved    the change wins at least 9/10 of pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile distance
  regressed   the change's median is worse than the parent's by more
              than the bound
  unresolved  the parent's own spread is wider than the bound, unless
              every change run beats every parent run
  same        none of the above
"""
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^(?P<w>[A-Za-z0-9_.-]+)-(?P<seed>\d+)-t(?P<trace>[01])\.out$")


def load(d):
    """{(workload, trace): {seed: result}}"""
    runs = {}
    for f in sorted(os.listdir(d)):
        m = NAME.match(f)
        if not m:
            continue
        with open(os.path.join(d, f)) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = None
        runs.setdefault((m["w"], int(m["trace"])), {})[int(m["seed"])] = res
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(results, metric):
    return {s: r["metrics"][metric]["value"] for s, r in results.items()
            if r and metric in r.get("metrics", {}) and r["metrics"][metric]["value"] is not None}


def worse(change, parent, better):
    """Relative worsening of change against parent (> 0 means worse)."""
    if parent == 0:
        return 0.0
    d = (change - parent) / abs(parent)
    return d if better == "lower" else -d


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m, 0) for m in bench["end_to_end"]] + [(m, 1) for m in bench["per_layer"]]
    sets = [load(d) for d in sys.argv[1:3]]
    if not sets:
        sys.exit(__doc__)
    ok = True
    for w in [w["name"] for w in bench["workloads"]]:
        for m, trace in metrics:
            name = m["name"]
            base = sets[0].get((w, trace), {})
            pv = values(base, name)
            if not pv:
                continue
            bad = [s for s, r in base.items() if not r or not r.get("correct") or r.get("failed")]
            q1, med, q3 = quartiles(sorted(pv.values()))
            spread = (q3 - q1) / abs(med) if med else 0.0
            line = f"{w:14s} {name:22s} n={len(pv):2d} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} spread={spread:6.3f}"
            if bad:
                line += f" FAILED-RUNS={bad}"
                ok = False
            if len(sets) == 1:
                bound = m.get("bound")
                if bound is not None and name != "setup_s":
                    line += f" bound={bound} {'ok' if spread <= bound / 3 else 'WIDE' if spread > bound else 'over-third'}"
                print(line)
                continue
            cv = values(sets[1].get((w, trace), {}), name)
            if not cv:
                print(line + " (no change runs)")
                continue
            c1, cmed, c3 = quartiles(sorted(cv.values()))
            pairs = [(pv[s], cv[s]) for s in pv if s in cv]
            better = m["better"]
            wins = sum(1 for p, c in pairs if (c < p if better == "lower" else c > p))
            verdict = ""
            if "bound" in m:
                bound = m["bound"]
                all_better = all((c < p if better == "lower" else c > p) for c in cv.values() for p in pv.values())
                if pairs and wins >= 0.9 * len(pairs) and abs(cmed - med) > (q3 - q1):
                    verdict = "improved"
                elif worse(cmed, med, better) > bound:
                    verdict = "regressed"
                    ok = False
                elif spread > bound and not all_better:
                    verdict = "unresolved"
                else:
                    verdict = "same"
            print(f"{line}\n{'':37s} change median={cmed:<12.5g} q1={c1:<12.5g} q3={c3:<12.5g} "
                  f"win-rate={wins}/{len(pairs)} {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
