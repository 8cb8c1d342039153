#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

Usage (from the repository root):
    python3 perfbench/run.py --workload extract|stream \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt (perfbench/build.sbt
compiles the repository build one directory up) and caches the resulting
classpath under .bench_build/perfbench. The cache is keyed by a hash of every
source and build file, and is rebuilt when the key changes or when any file
under a classpath directory is newer than the cache. Then it runs
perfbench.Main in one JVM. The last line of standard output is the result
JSON; the exit code is non-zero when the run fails or a result is wrong.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file that decides what the build produces."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout}s")
    return p.returncode, out


def unchanged_since(entries, t):
    """True when every classpath entry exists and nothing under a directory
    entry was written after time t (another build, e.g. `sbt test` at the
    root, may have recompiled the same output directories since)."""
    for e in entries:
        if not os.path.exists(e):
            return False
        for dirpath, _, names in os.walk(e):
            if any(os.path.getmtime(p) > t
                   for p in [dirpath] + [os.path.join(dirpath, n) for n in names]):
                return False
    return True


def classpath(key):
    cached = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cached):
        with open(cached) as fh:
            k, cp = fh.read().split("\n", 1)
        cp = cp.strip()
        if k == key and unchanged_since(cp.split(os.pathsep), os.path.getmtime(cached)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        errors = [l for l in out.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or out.splitlines()[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cached, "w") as fh:
        fh.write(key + "\n" + cp + "\n")
    return cp


def commit(key):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "source-sha256:" + key[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["extract", "stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    key = stamp()
    cp = classpath(key)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.commit={commit(key)}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work-dir", WORK])
    t0 = time.time()
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    print("\n".join(lines if code != 0 else lines[:-1]), flush=True)
    print(f"perfbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f}s, exit {code}",
          file=sys.stderr)
    if code != 0:
        sys.exit(code)
    check_metrics(lines[-1], a.trace == "1")
    print(lines[-1], flush=True)


def check_metrics(result_line, trace):
    """The result must carry exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in json.loads(result_line)["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")


if __name__ == "__main__":
    main()
