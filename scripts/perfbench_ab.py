#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload between two source trees.

    scripts/perfbench_ab.py --parent <tree> --change <tree> --workload W
        --pairs N [--seed0 S] [--seconds 1]

Each tree is a full checkout (for example `git archive <rev> | tar -x -C
<dir>`). Pair i runs `python3 perfbench/run.py --workload W --seed S+i
--seconds ... --trace 0` from each tree's root on the same seed, in ABBA
order (even pairs run the parent first, odd pairs the change first), so
drift on a shared machine falls on both sides. The first run in a tree
builds it (a few minutes).

Prints, per end-to-end metric of the change tree's BENCHMARK.json: the
parent and change medians, the parent's quartiles, the change/parent
ratio of the medians, in how many pairs the change was better, and a
bound verdict: `within` when the change's median is no worse than the
parent's by more than the metric's `bound` (a fraction of the parent's
median, in the direction `better` names), `OUTSIDE` when it is, and
`unresolved` when the parent's own spread (IQR / median) exceeds the
bound, so the runs cannot tell, unless every change run reads better
than every parent run. Exits non-zero when a run fails or
reports `correct: false`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(tree, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"{tree}: run failed (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def value(metrics, name):
    """A metric's number: run.py reports each as {"value": v, "unit": u}."""
    m = metrics.get(name)
    return m["value"] if isinstance(m, dict) else m


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(metric, ps, cs):
    """Whether the change runs' median is within the metric's bound of
    the parent runs' median; `unresolved` if the parent's IQR over its
    median exceeds the bound and the two sets of runs overlap."""
    bound = metric["bound"]
    lower = metric["better"] == "lower"
    pm, cm = statistics.median(ps), statistics.median(cs)
    q1, q3 = quartiles(ps)
    if (q3 - q1) > bound * abs(pm):
        separated = max(cs) < min(ps) if lower else min(cs) > max(ps)
        return "within" if separated else "unresolved"
    worse = (cm - pm) if lower else (pm - cm)
    return "within" if worse <= bound * abs(pm) else "OUTSIDE"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    runs = {"parent": [], "change": []}
    bad = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(a, side), a.workload, seed, a.seconds)
            runs[side].append(r)
            if not r["correct"] or r["failed"]:
                bad.append(f"{side} seed {seed}: correct={r['correct']} "
                           f"failed={r['failed']}")
        m = {s: runs[s][-1]["metrics"] for s in runs}
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): " +
              ", ".join(f"{x['name']} {value(m['parent'], x['name'])} -> "
                        f"{value(m['change'], x['name'])}" for x in metrics),
              file=sys.stderr)

    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed0}.."
          f"{a.seed0 + a.pairs - 1}")
    print(f"{'metric':16} {'parent':>10} {'q1..q3':>21} {'change':>10} "
          f"{'ratio':>7} {'wins':>6} {'bound':>6} {'verdict':>10}")
    for x in metrics:
        name = x["name"]
        pairs = [(value(p["metrics"], name), value(c["metrics"], name))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        ps = [p for p, _ in pairs]
        cs = [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        lower = x["better"] == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        ratio = f"{cm / pm:7.3f}" if pm else "      -"
        print(f"{name:16} {pm:10.4g} {q1:10.4g}..{q3:<10.4g} {cm:10.4g} "
              f"{ratio} {wins:>3}/{len(pairs)} {x['bound']:6.2f} "
              f"{verdict(x, ps, cs):>10}")
    if bad:
        print("FAILED RUNS:\n  " + "\n  ".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
