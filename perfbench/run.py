#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: backfill, month_build, registry (BENCHMARK.json
says what each does and why). The first run in a checkout builds graft
and the harness from source with sbt, offline; later runs reuse the
build while the sources are unchanged. The harness runs in one JVM at
local[nproc]; its working data lives under perfbench/.work and is
removed when the run ends. Per-run detail lines and, for traced runs,
the span files are kept in perfbench/.work/results.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Exit status is non-zero, with no result line, if the build or the run
fails or the run exceeds its time limit.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """sha256 over every file the build reads: graft's build definition
    and sources, and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            # sbt's own output: target/ and project/project/
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile graft and the harness; cache the runtime classpath."""
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" + os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "month_build", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graft sources not found next to perfbench/; "
                         "run from the root of a full checkout")
    digest = source_digest()
    cp = build(digest)

    work = os.path.join(BENCH, ".work", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BENCH, ".work", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_HOME", None)
    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC",
              "-XX:MetaspaceSize=256m", "-XX:CompileThresholdScaling=0.2",
              "-XX:-UsePerfData",
              "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", results, "--bench-dir", BENCH,
              "--source", f"{git_commit() or 'no-git'}:{digest[:16]}"])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    # on SIGTERM, unwind through the finally below so the JVM goes too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("harness printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
