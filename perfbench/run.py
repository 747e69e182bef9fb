#!/usr/bin/env python3
"""The repository's benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt (into `target/` and `perfbench/target/`) and caches the
classpath in `.bench_build/`; later runs start the JVM directly. Each run
generates its inputs from `--seed` (perfbench/gen.py), runs one workload in
one JVM with one client thread, checks every op's output, and prints one
JSON object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import trace_report  # noqa: E402

# Sizes, warm-up op counts and fixture repetitions per workload. Ops within
# a workload are alike, and each warms up on its own ops at its own size.
WORKLOADS = {
    "warehouse_load": {"sf": 0.01, "warmup": 1, "batches": 60,
                       "months_per_batch": 4, "orders_per_month": 40,
                       "customer_changes": 5},
    "mart_reads": {"sf": 0.01, "warmup": 0},
    "curation": {"sf": 0.002, "docs": 300, "warmup": 1},
}
RUN_LIMIT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cp = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln]
    if p.returncode != 0 or not cp:
        die(f"build failed (exit {p.returncode}); see {log}", 1)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def make_inputs(name, cfg, seed, data):
    tabs = gen.tables(seed, cfg["sf"], docs=cfg.get("docs"))
    gen.write_tables(data, tabs)
    plan = None
    if name == "warehouse_load":
        gen.warehouse_batches(seed, os.path.join(data, "batches"), tabs,
                              cfg["batches"], cfg["months_per_batch"],
                              cfg["orders_per_month"], cfg["customer_changes"])
    elif name == "mart_reads":
        plan = os.path.join(data, "rotation.txt")
        with open(plan, "w") as f:
            f.write("\n".join(gen.mart_rotation(seed, 4000)) + "\n")
    return plan


def oracle_passes(data, oracle_dir, deadline):
    """Names whose set-up result matches its DuckDB oracle, compared by the
    repository's own correctness gate (tools/check.py), and its report."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
         oracle_dir, "--mem=2GB"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(5, deadline - time.monotonic()))
    ok = {ln.split()[1].rstrip(":") for ln in p.stdout.splitlines()
          if ln.startswith("OK ")}
    return ok, p.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        die("run from the root of a repository checkout: the engine sources "
            "(build.sbt, src/main/scala, tools/check.py) are missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    cfg = WORKLOADS[a.workload]
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.monotonic()
        plan = make_inputs(a.workload, cfg, a.seed, data)
        t_inputs = time.monotonic() - t0
        out = os.path.join(results, f"{tag}.json")
        cpus = min(4, len(os.sched_getaffinity(0)))
        cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--data", data, "--work", work,
               "--out", out, "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--warmup", str(cfg["warmup"]),
               "--cpus", str(cpus),
               "--batches", str(cfg.get("batches", 0))]
        if plan:
            cmd += ["--plan", plan]
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_")}
        with open(os.path.join(results, f"{tag}.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env, cwd=work)
            try:
                code = p.wait(timeout=max(5, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"{tag}: the JVM ran past {RUN_LIMIT_S}s", 1)
        if code != 0:
            die(f"{tag}: the JVM exited {code}; see {results}/{tag}.log", 1)
        with open(out) as f:
            run = json.load(f)

        oracle_dir = os.path.join(work, "oracle")
        bad = set()
        t_jvm, t_oracle = time.monotonic() - t0 - t_inputs, 0.0
        if os.path.isdir(oracle_dir):
            t_oracle = time.monotonic()
            ok, report = oracle_passes(data, oracle_dir, deadline)
            t_oracle = time.monotonic() - t_oracle
            with open(os.path.join(results, f"{tag}.oracle.txt"), "w") as f:
                f.write(report)
            dumped = {d for d in os.listdir(oracle_dir) if not d.startswith(".")
                      and os.path.isdir(os.path.join(oracle_dir, d))}
            bad = dumped - ok
        ops = run["ops"]
        if not ops:
            die(f"{tag}: no op ran in the timed window", 1)
        errors = [op for op in ops if op["error"] or op["name"] in bad]
        failed = len(errors) + (1 if run["final_error"] else 0)
        failed = min(failed, max(len(ops), 1))
        correct = failed == 0 and not run["warmup_errors"]
        for op in errors[:5]:
            print(f"perfbench: op {op['i']} {op['name']} failed: "
                  f"{op['error'] or 'oracle mismatch'}", file=sys.stderr)
        if run["final_error"]:
            print(f"perfbench: {run['final_error']}", file=sys.stderr)

        summary = trace_report.steadiness(run)
        print(f"perfbench: {tag} wall={time.monotonic() - started:.1f}s "
              f"(inputs {t_inputs:.1f}s, jvm {t_jvm:.1f}s, oracle {t_oracle:.1f}s) ops={len(ops)} window={run['window_s']:.1f}s "
              f"setup={trace_report.setup_s(run):.2f}s "
              f"jit_in_window={run['window_jit_s']:.2f}s "
              f"gc_in_window={run['window_gc_s']:.2f}s "
              f"drift={summary['drift_ratio']:.3f} "
              f"{'steady' if summary['steady'] else 'STILL DRIFTING'}")
        if a.trace:
            metrics = trace_report.per_layer(run, trace_report.load_spans(
                out + ".spans.jsonl"))
        else:
            metrics = trace_report.end_to_end(run)
        print(json.dumps({"correct": correct, "attempted": max(len(ops), 1),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
