#!/usr/bin/env python3
"""graft benchmark: one workload per call, one JSON result line last on stdout.

Usage (from the repository root):

    python3 perfbench/run.py --workload sync_upsert --seed 1 --seconds 5 --trace 0

Builds graft's library sources together with the benchmark program
(perfbench/build.sbt, output under .bench_build/) on first use, then runs
the program in one JVM: Spark as local[nproc], in-process Derby as the live
JDBC source. `--trace 1` reports per-layer metrics instead of end-to-end
ones. Each run also writes a detail report (host record, named workload
metrics, spans) to .bench_build/results/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
WORKLOADS = ("sync_upsert", "dashboard", "operators")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: with adaptive sizing, some runs
# settled on a small young generation and collected 4x as often.
HEAP = "3g"
YOUNG = "1g"
# C1-only JIT: a run lasts about a minute, and C2 compiling Spark's hot
# paths on 4 cores would otherwise dominate the measured window
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    build_files = [os.path.join(BENCH, "build.sbt"),
                   os.path.join(BENCH, "project", "build.properties")]
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in build_files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_child(cmd, cwd, timeout, stdout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this script is told to stop, and wait for it either way."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, env=env,
                            start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit(f"graft sources not found under {GRAFT_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required to build the benchmark")
    if os.path.exists(CP_FILE) and os.path.getmtime(CP_FILE) >= newest_source_mtime():
        with open(CP_FILE) as f:
            return f.read().strip()
    log("building graft + benchmark program (sbt compile)")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    rc, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "compile", "export Runtime/fullClasspath"],
                        BENCH, BUILD_TIMEOUT_S, subprocess.PIPE, env)
    if rc != 0:
        sys.stderr.write(out)
        raise SystemExit(f"benchmark build failed (sbt exit {rc})")
    cp = [ln.strip() for ln in out.splitlines()
          if ln.strip().endswith(".jar") and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(out)
        raise SystemExit("sbt printed no runtime classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp[-1] + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    work = os.path.join(BUILD, "work", f"{stamp}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", os.path.join(results, stamp + ".json")]
    try:
        rc, out = run_child(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{args.workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for ln in reversed(lines):
        try:
            obj = json.loads(ln)
        except ValueError:
            continue
        if isinstance(obj, dict) and "correct" in obj:
            result = ln
            break
    for ln in lines:
        if ln != result:
            print(ln, file=sys.stderr)
    if result is None:
        raise SystemExit(f"graftbench.Main printed no result (exit {rc})")
    print(result, flush=True)
    return 0 if rc == 0 else (rc or 1)


if __name__ == "__main__":
    sys.exit(main())
