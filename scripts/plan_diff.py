#!/usr/bin/env python3
"""Diff two PLAN_FINGERPRINTS.json files (written by `graft.Dev fingerprint`).

Usage:
  sbt "runMain graft.Dev fingerprint <sf0.001 dir>"   # rewrites PLAN_FINGERPRINTS.json
  python3 scripts/plan_diff.py OLD.json NEW.json
  git show HEAD~1:PLAN_FINGERPRINTS.json > /tmp/old.json && \
      python3 scripts/plan_diff.py /tmp/old.json PLAN_FINGERPRINTS.json

Prints added/removed queries and, for each changed hash, a unified diff of
the operator skeletons — the plan-shape change behind a bench
regression. Exit code 1 if anything differs (CI-friendly).
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
        print(f"CHANGED  {name}  {old[name]['hash'][:12]} -> {new[name]['hash'][:12]}")
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
