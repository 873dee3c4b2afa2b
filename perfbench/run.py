#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source (sbt, offline) and caches the classpath and
the harness's JVM options (from perfbench/build.sbt) under perfbench/.build;
later runs reuse it while the sources are unchanged. Each
run starts one JVM (Spark local[nproc]) whose last stdout line is the result
object; its log goes to stderr. Every temporary file lives under
perfbench/.work and is removed at exit; a traced run keeps its spans in
perfbench/.traces.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")
WORKLOADS = ("eve_service", "stream_maint")
# a run must end within 180 s, or 900 s when it has to build first
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build depends on, in a stable order."""
    roots = [
        (ROOT, ["build.sbt"], ["project"], ["src/main"]),
        (HERE, ["build.sbt"], ["project"], ["src/main"]),
    ]
    files = []
    for base, singles, shallow, deep in roots:
        files += [os.path.join(base, f) for f in singles]
        for d in shallow:
            p = os.path.join(base, d)
            if os.path.isdir(p):
                files += [os.path.join(p, f) for f in sorted(os.listdir(p))
                          if f.endswith((".sbt", ".scala", ".properties"))]
        for d in deep:
            for dirpath, dirnames, names in os.walk(os.path.join(base, d)):
                dirnames.sort()
                files += [os.path.join(dirpath, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    interruption and wait for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
        return proc.returncode, out, err
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def cached_build():
    """(classpath, JVM options) of the cached build, if the sources have not
    changed since and its outputs are all still on disk."""
    try:
        with open(os.path.join(BUILD, "stamp")) as f, open(os.path.join(BUILD, "classpath")) as g, \
                open(os.path.join(BUILD, "jvm-options")) as h:
            cached, cp, jvm = f.read().strip(), g.read().strip(), h.read().split("\n")
    except OSError:
        return None
    if cached == stamp() and all(os.path.exists(p) for p in cp.split(os.pathsep)):
        return cp, [o for o in jvm if o]
    return None


def build(deadline):
    """Compile the engine and the harness; cache and return the classpath
    and the JVM options the build gives the harness."""
    want = stamp()
    os.makedirs(BUILD, exist_ok=True)
    print("[perfbench] building engine and harness (sbt)", file=sys.stderr)
    try:
        rc, out, err = run_group(
            ["sbt", "-batch", "compile", "export perfbench/Runtime/fullClasspath",
             "print perfbench/javaOptions"],
            timeout=max(1, deadline - time.time()), cwd=HERE,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if rc != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (exit {rc})", 1)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    # `print` lists a sequence one element a line, each after "* "
    jvm = [l[2:].strip() for l in out.splitlines() if l.startswith("* ")]
    if not lines or not jvm:
        fail("build printed no classpath or JVM options", 1)
    cp = lines[-1].strip()
    with open(os.path.join(BUILD, "classpath"), "w") as f:
        f.write(cp)
    with open(os.path.join(BUILD, "jvm-options"), "w") as f:
        f.write("\n".join(jvm) + "\n")
    with open(os.path.join(BUILD, "stamp"), "w") as f:
        f.write(want)
    return cp, jvm


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}: run from a full checkout")
    for var in ("SPARK_GRAFT_STAGING",):
        if os.environ.get(var):
            fail(f"{var} is set: staged stores would turn cold builds into attach times")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    built = cached_build()
    deadline = start + (RUN_LIMIT_S if built else FIRST_RUN_LIMIT_S)
    if built is None:
        # leave a whole run's time after the build
        built = build(deadline - RUN_LIMIT_S)
    cp, jvm = built

    work = os.path.join(WORK, f"run-{os.getpid()}-{int(start)}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + jvm
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--work", work,
              "--spans", os.path.join(TRACES, f"{args.workload}-seed{args.seed}.jsonl")])
    try:
        try:
            rc, out, _ = run_group(cmd, timeout=max(1, deadline - time.time()),
                                   stdout=subprocess.PIPE, text=True)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out", 1)
        lines = out.strip().splitlines()
        result = None
        if rc == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"benchmark JVM exited {rc} without a result", 1)
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
