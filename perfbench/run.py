#!/usr/bin/env python3
"""Run one workload of the Nexmark streaming benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload q5_bids --seed 1 --seconds 8 --trace 0

The first run builds the product and the harness from source with sbt
(into target/ directories and .bench_build/); later runs reuse the build
while the sources are unchanged. The run itself happens in one JVM at
local[4]; see perfbench/README.md for what it measures.

Standard output ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Lines before it list every metric by name and
unit, the run stamp, and any failed check.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CONFIG = HERE / "workloads.json"
MAIN = "graft.perfbench.PerfBench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The heap's cap; it grows from the JVM's default start as the run needs,
# so peak RSS follows the heap in use as well as native memory (RocksDB).
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def knobs_set():
    return sorted(k for k in os.environ if k.startswith(("GRAFT_", "SPARK_GRAFT_")))


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha1()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile product + harness; return the runtime classpath."""
    fp = fingerprint()
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "fingerprint.txt"
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text(), fp
    BUILD.mkdir(exist_ok=True)
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if l.startswith("/")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1])
    fp_file.write_text(fp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1], fp


def git_rev(fp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + fp[:12]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if knobs_set():
        fail("refusing to run with measurement knobs set: " + ", ".join(knobs_set()))
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no product sources under {ROOT}; run from the root of a full checkout")
    if a.workload not in json.loads(CONFIG.read_text())["workloads"]:
        fail(f"unknown workload {a.workload}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp, fp = build()
    work = BUILD / f"run-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, MAIN,
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--config", str(CONFIG), "--work", str(work)])
    env = dict(os.environ, PERFBENCH_GIT_REV=git_rev(fp))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        spans = work / "spans.jsonl"
        if spans.exists():
            shutil.move(spans, BUILD / f"spans-{a.workload}-seed{a.seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out[-4000:])
        fail(f"harness exited with {proc.returncode} and no result")
    r = json.loads(lines[-1])
    for name, m in r["metrics"].items():
        print(f"{name:32s} {m['value']!s:>24} {m['unit']}")
    print("stamp " + json.dumps(r["stamp"], sort_keys=True))
    for f in r["failures"]:
        print("FAILED " + f)
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
