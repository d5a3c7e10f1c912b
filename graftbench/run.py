#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage, from the root of a checkout of the repository:

    python3 graftbench/run.py --workload <bsp-dense|bsp-frontier|query-mix>
                              --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt on first use (the
classpath is cached under graftbench/target, keyed by a hash of the
sources), generates the workload's inputs from the seed, runs the harness
JVM, checks outputs, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything it
writes stays under graftbench/target and the build's own target
directories. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
WORKLOADS = ("bsp-dense", "bsp-frontier", "query-mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so a stale classpath is rebuilt."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    stamp, cp_file = TARGET / "build.stamp", TARGET / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    print("graftbench: building engine and harness with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in proc.stdout.splitlines()
             if "graftbench" in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, cores):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # A fixed heap and the parallel collector halve the run-to-run spread
    # that G1 with a growing heap gave (graftbench/README.md).
    # -UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--cores", str(cores)]
    result = work / "result.json"
    result.unlink(missing_ok=True)
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    if proc.returncode != 0 or not result.exists():
        fail(f"harness exited with code {proc.returncode}")
    return json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft engine sources under {ROOT}; run from a checkout of the repository")
    cores = len(os.sched_getaffinity(0))
    cp = classpath()

    work = TARGET / "work" / args.workload
    work.mkdir(parents=True, exist_ok=True)
    if args.workload == "query-mix":
        import tables
        tables.generate(tables.SEED, work / "tables")
    res = run_jvm(cp, args, work, cores)

    failed = res["failed"]
    errors = []
    if args.workload == "query-mix" and res["correct"]:
        import tables
        errors = tables.check(work / "tables", work / "out")
        failed += len(errors)
    for e in errors:
        print(f"[graftbench] FAIL {e}", file=sys.stderr)
    correct = bool(res["correct"]) and not errors

    for name, m in res["metrics"].items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(f"repetitions: {res['reps']}, fail_ratio: {failed}/{res['attempted']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": min(failed, res["attempted"]),
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    sys.path.insert(0, str(BENCH))
    main()
