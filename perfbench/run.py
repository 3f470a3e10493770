#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark harness from source (scalac from the
Spark distribution's jars, cached under ``.bench_build/``), generates
the workload's inputs from ``--seed``, runs the closed-loop harness in
one JVM, checks every output, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones. See ``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("analyst_explore", "automl_rul")
# scale of the generated inputs per workload; `smoke` is the self-test size
SIZES = {
    "analyst_explore": {"sf": 0.01, "engines": 100},
    "automl_rul": {"sf": None, "engines": 30},
    "selftest_invalid": {"sf": 0.001, "engines": 4},
}
SMOKE = {"sf": 0.001, "engines": 4}
TIME_LIMIT_S = 170
HEAP = "2g"  # fixed size: a heap that grows and shrinks adds timing noise
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the `unmanagedBase` the repo's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def build(root, jars):
    """Compiles src/main/scala plus the harness; the class directory is
    keyed by a hash of every source file, so an unchanged tree is not
    rebuilt."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        fail("no src/main/scala sources in the working directory")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    os.remove(argfile)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"iowait": v[4], "steal": v[7] if len(v) > 7 else 0,
            "total": sum(v)}


def make_inputs(run_dir, seed, size):
    """Generates the workload's inputs; returns their directory and the
    generation time."""
    d = os.path.join(run_dir, "in")
    t0 = time.perf_counter()
    if size["sf"] is not None:
        gen.star_schema(os.path.join(d, "tables"), size["sf"], seed)
    n_train, n_test = gen.turbofan(d, seed, size["engines"] or 4)
    with open(os.path.join(d, "rows.txt"), "w") as f:
        f.write(f"{n_train} {n_test}\n")
    return d, time.perf_counter() - t0


def run_harness(root, classes, jars, run_dir, args, inputs, deadline):
    work = os.path.join(run_dir, "work")
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    for d in (work, local, tmp, out):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), GRAFT_REPO_DIR=work,
               SPARK_LOCAL_DIRS=local)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file outside the checkout
    cmd += ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--inputs", inputs]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            with open(log_path, errors="replace") as f:
                print(f.read()[-3000:], file=sys.stderr)
            fail("harness exceeded the time limit")
    res = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {p.returncode}")
    with open(res) as f:
        return json.load(f), out, cores


def tail_latency(lat):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest latency, but never below the median. Returns the
    latency, its percentile and the number of samples beyond it."""
    s = sorted(lat)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def git_head(root):
    try:
        # the ceiling keeps git from reporting an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unavailable (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args()
    if args.workload not in SIZES:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    deadline = time.monotonic() + TIME_LIMIT_S
    root = os.getcwd()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars(root)
    classes = build(root, jars)
    deadline = max(deadline, time.monotonic() + 150)  # a cold build is not run time

    size = SMOKE if args.scale == "smoke" else SIZES[args.workload]
    cpu0, t_run0 = cpu_times(), time.time()
    run_dir = os.path.join(root, ".bench_build",
                           f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs, gen_s = make_inputs(run_dir, args.seed, size)
        res, out, cores = run_harness(root, classes, jars, run_dir, args,
                                      inputs, deadline)
        checks = oracle.check_outputs(os.path.join(inputs, "tables"),
                                      os.path.join(out, "outputs"),
                                      res["oracles"])
        last = os.path.join(root, ".bench_build", "last",
                            f"{args.workload}-trace{args.trace}")
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for name in ("result.json", "spans.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(out, name)):
                shutil.copy(os.path.join(out, name), last)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu1 = cpu_times()

    timed = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    reqs = [r for p in res["passes"] for r in p["requests"]]
    # a row whose set-up output fails its oracle returned that wrong
    # output on every repeat (repeats must equal the set-up output)
    wrong = {n for n, msg in checks.items() if not msg.startswith("pass")}
    failures = [f"{r['name']}: {r['error'] or 'output differs from its set-up run'}"
                for r in reqs if r["error"] or not r["consistent"]]
    failures += [f"{e['name']} (set-up): {e['error']}" for e in res["setup_errors"]]
    failures += [f"{n}: {checks[n]}" for n in sorted(wrong)]
    attempted = len(reqs)
    failed = sum(1 for r in reqs
                 if r["error"] or not r["consistent"] or r["name"] in wrong)
    correct = not failures

    def model(name, key):
        vals = [r["values"][key] for p in res["passes"] for r in p["requests"]
                if r["name"] == name and key in r["values"]]
        return statistics.median(vals) if vals else 0.0

    lat = [r["latency_s"] for p in timed for r in p["requests"]]
    tail, tail_p, tail_n = tail_latency(lat)
    e2e = {
        "setup_s": gen_s + res["session_ready_s"] + res["setup_pass_s"],
        "makespan_s": statistics.median(p["makespan_s"] for p in timed),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "heap_peak_mb": max(p["heap_after_gc_mb"] for p in res["passes"]),
    }
    rmse = model("evaluate", "rmse")
    f1 = model("evaluate", "f1")
    diag = {
        "failed_frac": failed / attempted if attempted else 0.0,
        "failures": failures,
        "checks": checks,
        "latency_p50_s": e2e["latency_p50_s"],
        "latency_tail_s": tail,
        "latency_tail_percentile": tail_p,
        "latency_tail_samples_beyond": tail_n,
        "passes_timed": len(timed), "passes_traced": len(traced),
        "requests_per_pass": len(res["passes"][0]["requests"]),
        "model_rmse": rmse, "model_f1": f1,
        "setup": {"generate_s": gen_s, "session_ready_s": res["session_ready_s"],
                  "cold_pass_s": res["setup_pass_s"]},
        "host": {
            "nproc": os.cpu_count(), "cores_used": cores,
            "steal_ticks": cpu1["steal"] - cpu0["steal"],
            "iowait_ticks": cpu1["iowait"] - cpu0["iowait"],
            "ticks_total": cpu1["total"] - cpu0["total"],
            "loadavg": os.getloadavg(), "jvm_flags": res["jvm_flags"],
            "git_head": git_head(root), "canary_cpu_s": res["canary_cpu_s"],
            "wall_s": time.time() - t_run0,
        },
    }
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        layer = {}
        for n in names:
            vals = [p["layer"].get(n, 0.0) for p in traced]
            layer[n] = statistics.median(vals) if vals else 0.0
        layer["ml.model_rmse"] = rmse
        layer["ml.model_f1"] = f1
        untraced_mk = e2e["makespan_s"]
        traced_mk = statistics.median(p["makespan_s"] for p in traced)
        layer["trace.overhead_pct"] = (traced_mk / untraced_mk - 1.0) * 100.0
        diag["tracing_overhead"] = {"traced_makespan_s": traced_mk,
                                    "untraced_makespan_s": untraced_mk}
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(os.path.join(last, "report.json"), "w") as f:
        json.dump({"diagnostics": diag, "metrics": metrics}, f, indent=1)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
