#!/usr/bin/env python3
"""Benchmark runner: build the engine and the benchmark from source, run one
workload in a fresh JVM at local[<cpus>], check its outputs, print metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <ingest|lake_dml|corpus> \
      --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are BENCHMARK.json's
end_to_end list; with --trace 1 its per_layer list, and the spans are kept
under .bench_build/traces/. The line before it records the host shape
(cpus, heap, JDK, Spark version, seed, source revision).

The first run in a checkout builds with sbt (offline) into .bench_build/;
later runs reuse the build while the sources' fingerprint is unchanged.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 160  # a run must end within 180 s, build excluded

sys.path.insert(0, HERE)
import oracle  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    out = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine's sources with the benchmark; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala: run from the root of a checkout")
    fp = fingerprint()
    fp_file = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(fp_file) and os.path.exists(cp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip(), fp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx3g"
    if os.path.exists(repos):
        default_opts = ("-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={repos} " + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=850)
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp, fp


def host_shape():
    cpus = len(os.sched_getaffinity(0))
    # heap as the repo's tier-1 harness sizes it: MemTotal/2, within 2..8 GB
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cpus, f"{gb}g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, run_dir, cpus, heap, deadline):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--dir", run_dir, "--out", out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cp, fp = build()
    cpus, heap = host_shape()

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_jvm = time.time()
        res = run_jvm(cp, args, run_dir, cpus, heap, deadline=time.time() + RUN_TIMEOUT_S)
        res["metrics"]["setup.jvm_s"] = time.time() - t_jvm
        failures = list(res["failures"])
        attempted = res["attempted"]
        manifest = os.path.join(run_dir, "data", "oracle.json")
        if os.path.exists(manifest):
            failures += oracle.check(manifest)
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    traces, f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in want:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    m = res["metrics"]
    info = dict(res["info"], heap=heap, rev=git_rev() or f"src-sha256:{fp[:12]}",
                # reported on every run, with no bound: they did not repeat
                # within a tenth across seeds (see BENCHMARK.json's per_layer)
                op_p50_ms=m["op_p50_ms"], op_tail_ms=m["op_tail_ms"],
                op_tail_pct=m["op_tail_pct"], op_tail_n=m["op_tail_n"],
                heap_live_mb=m["heap_live_mb"], failed_frac=m["failed_frac"],
                detail={k: v for k, v in m.items() if k.startswith(("op.", "setup."))})
    print(json.dumps({"info": info}))
    failed = len(failures)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def git_rev():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
