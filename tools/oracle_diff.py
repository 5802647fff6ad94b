#!/usr/bin/env python3
"""Compare two oracle_sql.json files (as written by graft.Verify) as
maps from query name to oracle SQL. Prints the names that were added,
removed or changed, then a one-line summary; exits 1 on any difference,
0 when both maps are identical.

  python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json
"""
import json
import sys


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    added = sorted(b.keys() - a.keys())
    removed = sorted(a.keys() - b.keys())
    changed = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    for tag, names in (("added", added), ("removed", removed),
                       ("changed", changed)):
        for n in names:
            print(f"{tag:8} {n}")
    print(f"{len(a)} -> {len(b)} oracles: {len(added)} added, "
          f"{len(removed)} removed, {len(changed)} changed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
