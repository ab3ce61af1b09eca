#!/usr/bin/env python3
"""graft's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: migrate, curate (see BENCHMARK.json). The first
call builds the benchmark (an sbt build in this directory that compiles
graft's main sources with the harness); later calls reuse the build
until a source file changes. Inputs are generated from the seed under
perfbench/.work/inputs and reused by later runs with the same seed.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The exit code is nonzero if any output check failed.

One-off passes (outside the timed benchmark):

    python3 perfbench/run.py --gate-counts SF_DIR [--check]
        Job and shuffle-record counts of every registered gate, two fresh
        passes; writes perfbench/gate_counts.json (with --check: one pass,
        compared against the committed file).
    python3 perfbench/run.py --prof-ivf SF_DIR
        Traced cold pass of the ProfIvf lifecycle; writes
        perfbench/prof_ivf.json.

Unit tests of the harness arithmetic: `cd perfbench && sbt test`.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CLASSPATH = WORK / "classpath.txt"
GRAFT_SRC = ROOT / "src" / "main" / "scala"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for base in (GRAFT_SRC, BENCH / "src" / "main", BENCH / "build.sbt"):
        paths = [base] if base.is_file() else base.rglob("*.scala")
        for p in paths:
            newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    """Compile with sbt (offline) and record the runtime classpath."""
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime > newest_source_mtime():
        return CLASSPATH.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building the benchmark (sbt compile)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.startswith("/")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("benchmark build failed")
    CLASSPATH.write_text(lines[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def java(cp, args, timeout):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    cmd += ["--work", str(WORK), "--bench-dir", str(BENCH)]
    return subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True, timeout=timeout)


def gate_counts(cp, sf_dir, check):
    committed = BENCH / "gate_counts.json"
    passes = []
    for i in range(1 if check else 2):
        out = WORK / f"gates-pass{i + 1}.json"
        r = java(cp, ["--gate-counts", sf_dir, "--out", str(out)], 3600)
        if r.returncode != 0:
            raise SystemExit(f"gate pass {i + 1} failed")
        passes.append(json.loads(out.read_text()))
    if check:
        old = json.loads(committed.read_text())
        new = passes[0]
        diff = sorted(q for q, c in new["queries"].items()
                      if old["queries"].get(q) != c and q not in old["unstable"])
        for q in diff:
            print(f"{q}: {old['queries'].get(q)} -> {new['queries'][q]}")
        print(json.dumps({"changed": diff}))
        return 1 if diff else 0
    a, b = passes
    unstable = sorted(q for q in a["queries"] if a["queries"][q] != b["queries"].get(q))
    doc = {"sf": Path(sf_dir).name, "nproc": a["nproc"],
           "unstable": unstable, "queries": a["queries"]}
    committed.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"queries": len(a["queries"]), "unstable": unstable}))
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gate-counts", metavar="SF_DIR")
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--prof-ivf", metavar="SF_DIR")
    a = ap.parse_args()
    if not (GRAFT_SRC / "graft").is_dir():
        raise SystemExit(f"graft sources not found under {GRAFT_SRC}")
    cp = build()
    if a.gate_counts:
        return gate_counts(cp, a.gate_counts, a.check)
    if a.prof_ivf:
        r = java(cp, ["--prof-ivf", a.prof_ivf, "--out",
                      str(BENCH / "prof_ivf.json")], 900)
        return r.returncode
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        r = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace)],
                 RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"no result line (exit code {r.returncode})")
    json.loads(lines[-1])
    print(lines[-1], flush=True)
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
