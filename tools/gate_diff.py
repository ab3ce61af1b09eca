#!/usr/bin/env python3
"""Compare two gate-count passes: a parent's and a change's.

Usage:
    python3 tools/gate_diff.py PARENT_PASS CHANGE_PASS

Each file is the per-gate count file one `perfbench/run.py --gate-counts
SF_DIR --check` pass writes (`perfbench/.work/gates-pass1.json`), or a
committed `perfbench/gate_counts.json`: {"queries": {gate: {"jobs": N,
"shuffle_records": M}}, "unstable": [...]} (the pass files carry no
"unstable" list).

Prints every gate whose `jobs` or `shuffle_records` differ, marked RISE
or fall, and gates present on one side only. A gate listed in either
file's "unstable" list is reported but never fails the check. Exit code
1 if any other gate's jobs or shuffle records rose.
"""
import json
import sys

COUNTS = ("jobs", "shuffle_records")


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    parent, change = (json.load(open(p)) for p in sys.argv[1:])
    pq, cq = parent["queries"], change["queries"]
    unstable = set(parent.get("unstable", [])) | set(change.get("unstable", []))
    rises = []
    for gate in sorted(set(pq) & set(cq)):
        diffs = [(k, pq[gate][k], cq[gate][k]) for k in COUNTS
                 if pq[gate][k] != cq[gate][k]]
        if not diffs:
            continue
        rose = any(new > old for _, old, new in diffs)
        tag = "RISE" if rose else "fall"
        if gate in unstable:
            tag += " (unstable)"
        elif rose:
            rises.append(gate)
        print(f"{gate}: {tag} " +
              ", ".join(f"{k} {old} -> {new}" for k, old, new in diffs))
    for side, only in (("parent", set(pq) - set(cq)), ("change", set(cq) - set(pq))):
        if only:
            print(f"only in {side} ({len(only)}): {', '.join(sorted(only))}")
    print(json.dumps({"gates": len(set(pq) & set(cq)), "rose": rises,
                      "unstable": sorted(unstable)}))
    return 1 if rises else 0


if __name__ == "__main__":
    sys.exit(main())
