#!/usr/bin/env python3
"""Self-tests of the benchmark at smoke size (sf0.001, 4 engines).

    python3 perfbench/selftest.py

Checks that:
  1. every end-to-end and every per-layer metric is printed with its unit;
  2. a deliberately invalid request is counted as failed and named;
  3. another seed changes the generated inputs but not the metric names;
  4. the working tree is unchanged by a run (``git status`` when the
     checkout is a git repository, else the file listing outside
     ``.bench_build``).
Exits non-zero on the first failed check.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def run(workload, seed, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"FAIL: {workload} exited {r.returncode}\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]


def tree_state():
    r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                       capture_output=True, text=True)
    if r.returncode == 0:
        return r.stdout
    return sorted(os.path.join(d, f) for d, ds, fs in os.walk(ROOT)
                  for f in fs if ".bench_build" not in d)


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        sys.exit(1)


def files_digest(d):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    before = tree_state()

    res, _ = run("analyst_explore", 1, 0)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check(got == want, f"end-to-end metrics printed with units: {sorted(got)}")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
          "smoke run is correct with no failed request")

    traced, diag = run("analyst_explore", 2, 1)
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {k: v["unit"] for k, v in traced["metrics"].items()}
    check(got == want, f"{len(got)} per-layer metrics printed with units")
    check("traced_makespan_s" in diag.get("tracing_overhead", {}),
          "tracing overhead is reported")
    other, _ = run("analyst_explore", 2, 0)
    check(set(other["metrics"]) == set(res["metrics"]),
          "seed 2 prints the same metric names as seed 1")

    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as t:
        for seed in (1, 2):
            gen.star_schema(os.path.join(t, f"s{seed}"), 0.001, seed)
            gen.turbofan(os.path.join(t, f"s{seed}"), seed, 4)
        check(files_digest(os.path.join(t, "s1")) != files_digest(os.path.join(t, "s2")),
              "seeds 1 and 2 generate different inputs")
        gen.star_schema(os.path.join(t, "again"), 0.001, 1)
        gen.turbofan(os.path.join(t, "again"), 1, 4)
        check(files_digest(os.path.join(t, "s1")) == files_digest(os.path.join(t, "again")),
              "seed 1 generates the same inputs twice")

    bad, diag = run("selftest_invalid", 1, 0)
    check(bad["failed"] >= 1 and not bad["correct"],
          f"invalid request counted: failed={bad['failed']} of {bad['attempted']}")
    check(any(f.startswith("invalid_request") for f in diag["failures"]),
          "the failing request is listed by name")

    check(tree_state() == before, "working tree unchanged by the runs")


if __name__ == "__main__":
    main()
