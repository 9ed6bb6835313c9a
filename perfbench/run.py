#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_hourly --seed 1 --seconds 25 --trace 0

The query_suite workload is run by hand, against the generated test tables
(TESTDATA.md):

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 0 --trace 1 \
        --data /path/to/sf0.1

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (perfbench/build.sbt pulls the
library in through the root build) and caches the classpath under
.bench_build/, keyed by a hash of every source and build file; later runs
with unchanged sources start the JVM directly. The run record (host facts,
calibration, every metric, spans when traced) lands in
.bench_build/work/records/.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(BUILD_DIR, "work")
WORKLOADS = ("ingest_hourly", "serve_mixed", "query_suite")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
SUITE_LIMIT_S = 1800

# Spark 4 on JDK 17 outside spark-submit needs these opens; the same list
# the root build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild, repo-relative."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
            continue
        for d, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if x != "target"
                       and not (x == "project" and os.path.basename(d) == "project")]
            rel = os.path.relpath(d, ROOT)
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    out.append(os.path.join(rel, f))
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, capture):
    """Run cmd in its own process group; kill the group past limit_s."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{cmd[0]} exceeded {limit_s:.0f}s and was killed", 1)
    return proc.returncode, out


def classpath():
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from the repository root with the sources present")
    fp = fingerprint(source_files())
    cache = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], False
    log("building library and benchmark with sbt")
    tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        os.path.join(ROOT, "perfbench"), BUILD_LIMIT_S - (time.monotonic() - START), capture=True)
    lines = [x.strip() for x in out.splitlines() if x.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        die(f"sbt build failed (exit {code})", 1)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1], True


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tracing_overhead(workload, seed):
    """Traced minus untraced end-to-end metrics of the newest pair of
    records for this workload and seed, as shares of the untraced value,
    with the same share for the calibration probe run before each: a
    probe that moved means the host moved, and the overhead is not clean."""
    records = os.path.join(WORK_DIR, "records")
    newest = {}
    for name in sorted(os.listdir(records)):
        if name.startswith(f"{workload}-s{seed}-t") and name.endswith(".json"):
            newest[name.split("-")[2]] = name  # t0 / t1; names sort by time within a tag
    if set(newest) != {"t0", "t1"}:
        return None
    with open(os.path.join(records, newest["t0"])) as fh:
        plain = json.load(fh)
    with open(os.path.join(records, newest["t1"])) as fh:
        traced = json.load(fh)
    out = {k: (traced["end_to_end"][k]["value"] - v["value"]) / v["value"]
           for k, v in plain["end_to_end"].items()
           if v["value"] and traced["end_to_end"].get(k, {}).get("value") is not None}
    before = plain["calibration_s"]["before"]
    out["calibration_before"] = traced["calibration_s"]["before"] / before - 1 if before else None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--data", help="test-data dir; query_suite only")
    args = ap.parse_args()
    if (args.workload == "query_suite") != (args.data is not None):
        die("--data is required by query_suite and taken by nothing else")

    cp, built = classpath()
    limit = SUITE_LIMIT_S if args.data else BUILD_LIMIT_S if built else RUN_LIMIT_S
    limit -= time.monotonic() - START
    tmp = os.path.join(WORK_DIR, "tmp")
    data = os.path.join(WORK_DIR, "data")
    subprocess.run(["rm", "-rf", data, tmp], check=True)
    os.makedirs(tmp)
    # the query suite trains models and pins whole tables; the pipeline
    # workloads stay far below their bound
    heap = "8g" if args.data else "3g"
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Bench",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", WORK_DIR, "--git-head", git_head()]
    if args.data:
        cmd += ["--data", os.path.abspath(args.data)]
    code, out = run_bounded(cmd, ROOT, limit, capture=True)
    subprocess.run(["rm", "-rf", data, tmp], check=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    if code != 0 or not lines:
        die(f"benchmark JVM exited with {code}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        die(f"malformed result line: {lines[-1]}", 1)
    if args.trace:
        overhead = tracing_overhead(args.workload, args.seed)
        if overhead is not None:
            log("tracing overhead (traced/untraced - 1): " +
                ", ".join(f"{k}={v:+.1%}" for k, v in overhead.items() if v is not None))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
