#!/usr/bin/env python3
"""Diff the per-query counters of two sets of `graft.Debug` logs.

`graft.Debug` prints one `COUNTERS-COLD <query> jobs=… stages=… cpu=…s
taskrun=…s` line per query and, with `GRAFT_WARM=<n>`, one `COUNTERS <query>
…` line per warm run. This tool reads one or more logs per side (the parent
and the change, each with the same queries in the same order) and prints,
per query:

  - cold jobs (the first run in the session: shared artifacts built here);
  - warm jobs, the minimum over all warm runs of the side;
  - warm task CPU, the minimum over all warm runs, with the base side's
    spread (max - min) next to it.

A query is flagged RISE when its cold or warm job count is higher on the
change side, or when its warm task-CPU minimum is above the base side's
warm maximum (a rise beyond the base's own run-to-run spread). q219, q316
and q453 read one job apart between runs of the same code (AQE launches a
varying number of stage jobs for them), so their job rises are marked
`aqe-variable` and do not count. The last lines give the census (the sum of
the cold job counts) of each side. Exits 1 when a counted rise is left.

Usage:
  python3 tools/census.py --base parent.log [parent2.log …] \\
      --change change.log [change2.log …]
"""
import argparse
import re
import sys

LINE = re.compile(r"^(COUNTERS-COLD|COUNTERS) (\S+) jobs=(\d+) stages=\d+ cpu=([\d.]+)s")
AQE_VARIABLE = ("q219_", "q316_", "q453_")


def read(paths):
    """{query: {"cold": [(jobs, cpu)], "warm": [(jobs, cpu)]}}, in first-seen order."""
    out = {}
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                m = LINE.match(line.strip())
                if not m:
                    continue
                kind = "cold" if m.group(1) == "COUNTERS-COLD" else "warm"
                q = out.setdefault(m.group(2), {"cold": [], "warm": []})
                q[kind].append((int(m.group(3)), float(m.group(4))))
    return out


def summary(runs):
    cold = runs["cold"]
    warm = runs["warm"]
    return {
        "cold_jobs": min(j for j, _ in cold) if cold else None,
        "warm_jobs": min(j for j, _ in warm) if warm else None,
        "cpu_min": min(c for _, c in warm) if warm else None,
        "cpu_max": max(c for _, c in warm) if warm else None,
    }


def fmt(v, spec="{}"):
    return "-" if v is None else spec.format(v)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True, help="graft.Debug logs of the base")
    ap.add_argument("--change", nargs="+", required=True, help="graft.Debug logs of the change")
    args = ap.parse_args(argv)
    base, change = read(args.base), read(args.change)
    queries = [q for q in base if q in change]
    rises = []
    print(f"{'query':40} {'cold jobs':>11} {'warm jobs':>11} {'warm cpu s (base spread)':>30}  flag")
    for q in queries:
        b, c = summary(base[q]), summary(change[q])
        flags = []
        for key, label in (("cold_jobs", "cold jobs"), ("warm_jobs", "warm jobs")):
            if b[key] is not None and c[key] is not None and c[key] > b[key]:
                flags.append(label)
        if b["cpu_max"] is not None and c["cpu_min"] is not None and c["cpu_min"] > b["cpu_max"]:
            flags.append("warm cpu")
        variable = q.startswith(AQE_VARIABLE)
        counted = [f for f in flags if not (variable and f.endswith("jobs"))]
        flag = ""
        if flags:
            flag = "RISE " + ", ".join(flags)
            if variable and len(counted) < len(flags):
                flag += " (aqe-variable)"
        if counted:
            rises.append(q)
        spread = None if b["cpu_min"] is None else b["cpu_max"] - b["cpu_min"]
        cpu = (f"{fmt(b['cpu_min'], '{:.1f}')} ({fmt(spread, '{:.1f}')})"
               f" → {fmt(c['cpu_min'], '{:.1f}')}")
        jobs = lambda k: f"{fmt(b[k])} → {fmt(c[k])}"
        print(f"{q:40} {jobs('cold_jobs'):>11} {jobs('warm_jobs'):>11} {cpu:>30}  {flag}")
    for side, data in (("base", base), ("change", change)):
        total = sum(summary(data[q])["cold_jobs"] or 0 for q in queries)
        print(f"census {side}: {total} cold jobs over {len(queries)} queries")
    only = sorted(set(base) ^ set(change))
    if only:
        print("on one side only: " + ", ".join(only))
    if rises:
        print("counted rises: " + ", ".join(rises))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
