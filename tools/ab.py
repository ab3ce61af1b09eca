#!/usr/bin/env python3
"""A/B of the benchmark between two checkouts.

Usage:
    python3 tools/ab.py PARENT_CHECKOUT CHANGE_CHECKOUT --workload W --seeds A-B
        [--seconds S] [--log FILE]

Runs `perfbench/run.py --workload W --seed N --seconds S --trace 0` in
each checkout, one pair of runs per seed in A..B (inclusive), alternating
which side runs first, and takes the last stdout line of each run as its
result. S defaults to `run_seconds` in the change checkout's
BENCHMARK.json. With --log, every run is appended to FILE as one JSON
line: its result (null when it printed none), exit code and the last
lines of its stderr.

A run that prints no result line fails its pair: the set goes on, the
failed pair is left out of the statistics and counted in the verdict,
and a set with any failed pair reports no gain.

For each end-to-end metric in BENCHMARK.json it prints both sides'
median and quartiles (R-7 interpolation, as perfbench's Stats), the
pairs the change won, lost and tied, and two verdicts:

- gain: no pair failed, the change wins at least nine tenths of the pairs
  (ties count for neither) and the medians differ, in the better
  direction, by more than the parent's interquartile range. Fewer than
  ten pairs never claim one.
- bound: REGRESSED when the change's median is worse than the parent's by
  more than the metric's bound (a fraction of the parent's median);
  UNRESOLVED when either side's interquartile range exceeds the bound
  (relative to its median) and not every change run beats every parent
  run; else ok.

Exit code 1 if any metric regressed, any run reported failed operations
beyond the parent's, or more change runs than parent runs printed no
result.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path


def percentile(xs, p):
    s = sorted(xs)
    h = (len(s) - 1) * p
    lo = int(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def seed_range(text):
    a, _, b = text.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


STDERR_TAIL = 40


def run(checkout, workload, seed, seconds):
    """(result or None when the run printed no result line, exit code,
    the last STDERR_TAIL lines of its stderr)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    tail = r.stderr.splitlines()[-STDERR_TAIL:]
    if not lines or not lines[-1].startswith("{"):
        return None, r.returncode, tail
    return json.loads(lines[-1]), r.returncode, tail


def summarize(name, better, bound, parent, change, failed_pairs):
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    ties = len(parent) - wins - losses
    pq = [percentile(parent, q) for q in (0.25, 0.5, 0.75)]
    cq = [percentile(change, q) for q in (0.25, 0.5, 0.75)]
    p_iqr, c_iqr = pq[2] - pq[0], cq[2] - cq[0]
    gain = (failed_pairs == 0 and len(parent) >= 10
            and 10 * wins >= 9 * len(parent)
            and sign * (pq[1] - cq[1]) > p_iqr)
    rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
    worse = sign * rel
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if worse > bound:
        status = "REGRESSED"
    elif (p_iqr / pq[1] > bound or c_iqr / cq[1] > bound) and not all_better:
        status = "UNRESOLVED"
    else:
        status = "ok"
    print(f"{name:8s} parent {pq[1]:9.4f} [{pq[0]:.4f}, {pq[2]:.4f}]  "
          f"change {cq[1]:9.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  "
          f"{rel * 100:+6.1f} %  wins {wins}/{len(parent)} "
          f"(losses {losses}, ties {ties})  "
          f"gain {'YES' if gain else 'no'}  bound {bound}: {status}")
    return status == "REGRESSED"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log", type=Path)
    a = ap.parse_args()
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    results = {"parent": [], "change": []}
    no_result = {"parent": 0, "change": 0}
    failed_pairs = 0
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            res, code, tail = run(checkout, a.workload, seed, seconds)
            pair[side] = res
            if a.log:
                with a.log.open("a") as f:
                    f.write(json.dumps({"side": side, "workload": a.workload,
                                        "seed": seed, "pair": i,
                                        "result": res, "exit_code": code,
                                        "stderr_tail": tail}) + "\n")
            if res is None:
                no_result[side] += 1
                print(f"[ab] pair {i + 1}/{len(a.seeds)} seed {seed} {side}: "
                      f"no result line (exit code {code})",
                      file=sys.stderr, flush=True)
            else:
                print(f"[ab] pair {i + 1}/{len(a.seeds)} seed {seed} {side}: "
                      + ", ".join(f"{k} {v['value']:.4f}"
                                  for k, v in sorted(res["metrics"].items())),
                      file=sys.stderr, flush=True)
        if None in pair.values():
            failed_pairs += 1
            continue
        for side, res in pair.items():
            results[side].append(res)
    failed = {s: sum(r["failed"] for r in rs) for s, rs in results.items()}
    attempted = {s: sum(r["attempted"] for r in rs) for s, rs in results.items()}
    print(f"workload {a.workload}, {len(a.seeds)} pairs, seeds "
          f"{a.seeds[0]}-{a.seeds[-1]}, --seconds {seconds}")
    print(f"failed pairs: {failed_pairs} of {len(a.seeds)} (runs without a "
          f"result line: parent {no_result['parent']}, "
          f"change {no_result['change']})")
    for s in ("parent", "change"):
        print(f"{s}: {failed[s]} of {attempted[s]} operations failed")
    regressed = (failed["change"] * attempted["parent"] >
                 failed["parent"] * attempted["change"]
                 or no_result["change"] > no_result["parent"])
    if not results["parent"]:
        print("no pair completed: no verdict")
        return 1
    for m in bench["end_to_end"]:
        p = [r["metrics"][m["name"]]["value"] for r in results["parent"]]
        c = [r["metrics"][m["name"]]["value"] for r in results["change"]]
        regressed |= summarize(m["name"], m["better"], m["bound"], p, c,
                               failed_pairs)
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
