#!/usr/bin/env python3
"""graft's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the benchmark program from source with sbt (offline) into target
directories and records the classpath under .bench_build/; later runs
reuse it while the sources are unchanged. Each run starts one JVM (Spark local[4]) that
drives the workload through graft's public API and writes a raw record;
this script checks it, reduces it to metrics (benchlib.py) and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

WORKLOADS = ("serve_ingest", "offline")
BUILD_DIR = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        if not f.is_file():
            fail("missing build input %s: run from a graft source checkout"
                 % f.relative_to(ROOT))
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, log):
    """Run a command in its own process group; on timeout kill the group
    and wait for it. Returns the exit code (None on timeout)."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compile the engine and the benchmark once per source state; returns
    the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources under src/main/scala: run from a graft source checkout")
    digest = source_hash()
    cp_file = BUILD_DIR / "classpath.txt"
    stamp = BUILD_DIR / "classpath.sha256"
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD_DIR.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = BUILD_DIR / "build.log"
    code = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                      "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                     HERE, env, BUILD_TIMEOUT_S, log)
    lines = log.read_text(errors="replace").splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (exit %s); log in %s" % (code, log))
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail("build printed no classpath; log in %s" % log)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return "java"


def run(args, cp):
    work = BUILD_DIR / ("run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    # A fixed-size heap under the parallel collector: eden is touched in
    # full early, so peak RSS moves with retained and native memory rather
    # than with when the collector chose to grow the heap. Two JIT and two
    # GC threads leave the four cores to Spark's four task threads, which
    # keeps run-to-run noise down.
    cmd = [java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "graftbench.PerfBench",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(work), str(out)]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        code = run_group(cmd, ROOT, env, RUN_TIMEOUT_S, work / "jvm.log")
        if code != 0 or not out.is_file():
            log = (work / "jvm.log").read_text(errors="replace").splitlines()
            sys.stderr.write("\n".join(l for l in log if " INFO " not in l)[-4000:] + "\n")
            fail("benchmark JVM failed (exit %s)" % code)
        record = json.loads(out.read_text())
        if args.trace:
            shutil.copy(out, BUILD_DIR / ("last-trace-%s.json" % args.workload))
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    t0 = time.time()
    record = run(args, cp)
    result = benchlib.reduce(record, args.trace == 1)
    for c in benchlib.all_checks(record):
        if not c["ok"]:
            print("check failed: %s: %s" % (c["name"], c["detail"]), file=sys.stderr)
    print("run took %.1f s" % (time.time() - t0), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
