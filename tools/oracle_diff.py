#!/usr/bin/env python3
"""List the queries whose DuckDB oracle text differs between two
`oracle_sql.json` files.

Each oracle is compared after collapsing every whitespace run to one space
(and trimming), so re-indenting or re-wrapping SQL does not count as a
change. Prints one line per query that was added, removed or changed, then
a summary line. Exits 1 when any query is listed, 0 when none is.

Get a complete `oracle_sql.json` for a checkout from `graft.Debug`'s dump
mode, which writes every registry oracle after dumping the named queries:

  GRAFT_DUMP_DIR=<dir> sbt -batch "runMain graft.Debug q01_pricing_summary"

Usage: python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json
"""
import json
import re
import sys


def load(path):
    with open(path) as f:
        return {k: re.sub(r"\s+", " ", v).strip() for k, v in json.load(f).items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    listed = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b:
            status = "removed"
        elif name not in a:
            status = "added"
        elif a[name] != b[name]:
            status = "changed"
        else:
            continue
        listed += 1
        print(f"{status} {name}")
    print(f"{listed} of {len(a.keys() | b.keys())} queries added, removed or changed")
    sys.exit(1 if listed else 0)


if __name__ == "__main__":
    main()
