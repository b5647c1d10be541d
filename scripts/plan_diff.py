#!/usr/bin/env python3
"""Diff two PLAN_FINGERPRINTS.json files (written by `graft.Dev fingerprint`).

Usage:
  sbt "runMain graft.Dev fingerprint <sf0.001 dir>"   # rewrites PLAN_FINGERPRINTS.json
  python3 scripts/plan_diff.py OLD.json NEW.json
  git show HEAD~1:PLAN_FINGERPRINTS.json > /tmp/old.json && \
      python3 scripts/plan_diff.py /tmp/old.json PLAN_FINGERPRINTS.json

Prints added/removed queries and, for each changed hash, one of:
  CHANGED    the operator skeleton differs (a plan-shape change: join
             strategy, exchange placement, a lost pushdown), followed by a
             unified diff of the skeletons;
  HASH-ONLY  the skeleton is identical and only the normalized plan text
             moved (an alias, a literal, an expression order). Some such
             flips come from outside the query: RewriteDistinctAggregates
             orders its keys by expression-id hashes, so a change in how
             many ids an earlier-sorted query allocates can flip them.
Exit code 1 if anything differs (CI-friendly).
"""
import difflib
import json
import sys


def main(old_path: str, new_path: str) -> int:
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)

    changed = False
    for name in sorted(set(old) - set(new)):
        print(f"REMOVED  {name}")
        changed = True
    for name in sorted(set(new) - set(old)):
        print(f"ADDED    {name}")
        changed = True
    for name in sorted(set(old) & set(new)):
        if old[name]["hash"] == new[name]["hash"]:
            continue
        changed = True
        hashes = f"{old[name]['hash'][:12]} -> {new[name]['hash'][:12]}"
        if old[name]["skeleton"] == new[name]["skeleton"]:
            print(f"HASH-ONLY  {name}  {hashes}")
            continue
        print(f"CHANGED  {name}  {hashes}")
        diff = difflib.unified_diff(
            old[name]["skeleton"], new[name]["skeleton"],
            fromfile=f"{name}@old", tofile=f"{name}@new", lineterm="")
        for line in diff:
            print(f"    {line}")
    if not changed:
        print("identical: every query has the same plan fingerprint")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
