#!/usr/bin/env python3
"""Repeats benchmark runs and judges each end-to-end metric against its bound.

One tree (A/A steadiness; run from the repository root):
    python3 perfbench/compare.py --runs 10 [--sets 2] [--workloads a,b]
  runs each workload --runs times per set, seed k for the k-th run, and
  prints each metric's median, quartiles and spread (IQR / median) per set.
  A metric is "steady" when its spread is at most a third of its bound,
  "within" when at most the bound, else "UNSTEADY"; with two sets, "DRIFT"
  marks a second median worse than the first by more than the bound.

Parent against change:
    python3 perfbench/compare.py --base DIR --change DIR --pairs 10
  runs each workload in both trees for --pairs seeds, alternating which side
  runs first, and judges each metric of the change against the base:
  "regressed" when its median is worse by more than the bound, "unresolved"
  when either side's spread exceeds the bound (unless every change run beats
  every base run), "improved" when the change wins at least 9 of 10 pairs
  and the medians differ by more than the base's IQR, else "no regression".

Raw results go to --out (JSON) when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BOUNDS = {n: (b, x) for n, _, b, x in metrics.END_TO_END}


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} in {tree}: exit {p.returncode}")
    result = json.loads(lines[-1])
    return {n: m["value"] for n, m in result["metrics"].items()}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return med, q1, q3, spread


def worse(name, a, b):
    """How much worse b is than a, as a share of a (positive = worse)."""
    better = BOUNDS[name][0]
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)


def aa(args, workloads):
    raw = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            runs = [run_once(".", w, args.seed0 + s * args.runs + k, args.seconds)
                    for k in range(args.runs)]
            sets.append(runs)
        raw[w] = sets
        print(f"\n{w}")
        print(f"  {'metric':16s} {'bound':>6s}  " +
              "  ".join(f"{'set' + str(i + 1) + ' median [q1, q3] spread':>44s}"
                        for i in range(args.sets)) + "  verdict")
        for name, (_, bound) in BOUNDS.items():
            cells, verdict = [], "steady"
            meds = []
            for runs in sets:
                med, q1, q3, spread = summary([r[name] for r in runs])
                meds.append(med)
                cells.append(f"{med:12.5g} [{q1:10.5g}, {q3:10.5g}] {spread:6.3f}")
                if spread > bound:
                    verdict = "UNSTEADY"
                elif spread > bound / 3 and verdict == "steady":
                    verdict = "within"
            if len(meds) > 1 and worse(name, meds[0], meds[1]) > bound:
                verdict = "DRIFT"
            ok &= verdict not in ("UNSTEADY", "DRIFT")
            print(f"  {name:16s} {bound:6.2f}  " + "  ".join(cells) + f"  {verdict}")
    return raw, ok


def pairs(args, workloads):
    raw = {}
    ok = True
    for w in workloads:
        base, change = [], []
        for k in range(args.pairs):
            seed = args.seed0 + k
            order = [("base", args.base), ("change", args.change)]
            if k % 2:
                order.reverse()
            for side, tree in order:
                (base if side == "base" else change).append(run_once(tree, w, seed, args.seconds))
        raw[w] = {"base": base, "change": change}
        print(f"\n{w}")
        print(f"  {'metric':16s} {'bound':>6s}  {'base median [q1, q3]':>36s}  "
              f"{'change median [q1, q3]':>36s}  verdict")
        for name, (better, bound) in BOUNDS.items():
            b = [r[name] for r in base]
            c = [r[name] for r in change]
            bm, bq1, bq3, bs = summary(b)
            cm, cq1, cq3, cs = summary(c)
            wins = sum(1 for x, y in zip(b, c) if worse(name, x, y) < 0)
            all_better = all(worse(name, x, y) < 0 for x in b for y in c)
            if worse(name, bm, cm) > bound:
                verdict = "regressed"
            elif (bs > bound or cs > bound) and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 * len(b) and abs(cm - bm) > (bq3 - bq1):
                verdict = "improved"
            else:
                verdict = "no regression"
            ok &= verdict != "regressed"
            print(f"  {name:16s} {bound:6.2f}  {bm:12.5g} [{bq1:10.5g}, {bq3:10.5g}]  "
                  f"{cm:12.5g} [{cq1:10.5g}, {cq3:10.5g}]  {verdict}")
    return raw, ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w for w, _ in metrics.WORKLOADS))
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--base")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    if bool(args.base) != bool(args.change):
        ap.error("--base and --change go together")
    raw, ok = pairs(args, workloads) if args.base else aa(args, workloads)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
