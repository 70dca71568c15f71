#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client, one query at a time.

Usage (from the repository root):
    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the library together with the harness in `perfbench/harness`
(once per source state), launches one JVM running `perfbench.Harness`
with `local[nproc]`, checks every result of the warm-up pass against the
query's DuckDB oracle, and prints one JSON object as the last line of
stdout: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. The line before it is a summary with the per-query
times, the failing queries and the summary-only end-to-end metrics
(`peak_rss_mb`, `query_p50_ms`, `query_tail_ms` with its percentile and
sample count, `error_rate`, and `build_s` for index_lifecycle).
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
from pathlib import Path

import report

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "harness"
WORK = ROOT / ".bench_work"
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
HEAP = "4g"
JVM_TIMEOUT_S = 170
WORKLOADS = ("olap", "llm", "index_lifecycle")

# What SparkSession needs on JDK 17 outside spark-submit; the same list
# as the library's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build: library sources and harness."""
    h = hashlib.sha256()
    files = [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + harness with sbt when the sources changed and
    returns the runtime classpath."""
    stamp = HARNESS / "target" / "perfbench-stamp.json"
    digest = source_digest()
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath


def launch(classpath, args, run_dir):
    """Runs the harness JVM to completion; returns its launch time (epoch s)."""
    tmp, local, out = run_dir / "tmp", run_dir / "local", run_dir / "out"
    for d in (tmp, local, out):
        d.mkdir(parents=True)
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    cores = len(os.sched_getaffinity(0))
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", SF_DIR, "--out", str(out), "--cores", str(cores)]
    env = dict(os.environ, CLASSPATH=classpath, SPARK_LOCAL_DIRS=str(local),
               SPARK_DRIVER_MEM=HEAP)
    log = open(run_dir / "jvm.log", "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        log.close()
    if code != 0 or not (out / "harness.json").is_file():
        log = (run_dir / "jvm.log").read_text().splitlines()
        first = [l for l in log if "Exception" in l and not l.startswith("\t")][:3]
        sys.stderr.write("\n".join(first + log[-40:]) + "\n")
        fail(f"harness exited with code {code}")
    return launched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no library sources under {ROOT / 'src'}", 2)
    if not (ROOT / "tools" / "check_local.py").is_file():
        fail("tools/check_local.py (the oracle comparison) is missing", 2)
    if not (Path(SF_DIR) / "lineitem.parquet").exists():
        fail(f"no sf0.1 corpus at {SF_DIR}", 2)

    t_start = time.time()
    classpath = build()
    t_built = time.time()
    run_dir = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        launched = launch(classpath, args, run_dir)
        out = run_dir / "out"
        harness = json.loads((out / "harness.json").read_text())
        t_jvm_done = time.time()
        import oracle  # pandas + duckdb load only after the JVM is gone
        mismatches, checked = oracle.check(out, SF_DIR, WORK / "oracle-cache")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phases = {"build_s": t_built - t_start,
              "session_s": harness["session_ready_ms"] / 1000.0 - launched,
              "jvm_s": t_jvm_done - launched,
              "check_s": time.time() - t_jvm_done}

    errors = harness["errors"]
    attempted, failed = report.failures(harness, mismatches)
    summary = {
        "workload": args.workload, "seed": args.seed,
        "passes": len(harness["measured"]),
        "cores": harness["cores"], "jdk": harness["jdk"],
        "heap_max_mb": harness["heap_max_mb"], "phases": phases,
        "checked": checked,
        "failed_queries": sorted({e["key"] for e in errors} | set(mismatches)),
        "errors": errors, "mismatches": mismatches,
        "per_query_ms": report.per_query_times(harness),
        "end_to_end": {k: report.metric(v, report.END_TO_END[k]) for k, v in
                       report.end_to_end(harness, launched).items()},
        "reported": report.reported(harness, failed, attempted),
    }
    if args.trace:
        trace = harness["trace"]
        layers = dict(trace["metrics"])
        layers["trace.nonrepeating_counts"] = len(trace["nonrepeating"])
        summary["nonrepeating"] = trace["nonrepeating"]
        summary["exact_counts"] = trace["exact_counts"]
        metrics = {k: report.metric(v, report.per_layer_unit(k))
                   for k, v in sorted(layers.items())}
    else:
        metrics = summary["end_to_end"]
    for q in summary["failed_queries"]:
        print(f"perfbench: FAILED {q}", file=sys.stderr)
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
