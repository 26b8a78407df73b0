#!/usr/bin/env python3
"""Run one benchmark workload of cellbasespark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.work/; later runs start the JVM directly.
The last stdout line is the result JSON. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("olap_read", "fleet_crud")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# root build's run options.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles from, in a stable order."""
    found = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            found += [os.path.join(d, f) for f in sorted(files)]
    return found


def source_digest():
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile program + benchmark once per source digest; return the classpath.

    sbt compiles into class directories that every build of this checkout
    shares, so the class directories on the exported classpath are copied
    into a snapshot per digest, and the cached classpath names the
    snapshot: a later run of the same sources runs the classes built from
    them, even after another commit was built in between."""
    snap = os.path.join(WORK, f"build-{digest[:16]}")
    cp_file = os.path.join(snap, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building program and benchmark with sbt (first run of these sources)")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    tmp = f"{snap}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(tmp, f"classes-{i}"))
            entry = os.path.join(snap, f"classes-{i}")
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(classpath)
    shutil.rmtree(snap, ignore_errors=True)
    os.rename(tmp, snap)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


def run(workload, seed, seconds, trace, corrupt=False, timeout=RUN_TIMEOUT_S):
    digest = source_digest()
    classpath = build(digest)
    started = time.monotonic()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "local"))
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseParallelGC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        # keep all scratch inside the checkout: no /dev/shm fast path
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dgraft.scratch.shmMinBytes={2 ** 63 - 1}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", os.path.join(run_dir, "fixtures"),
        "--data", os.path.join(WORK, "data"),
        "--traces", os.path.join(WORK, "traces"),
        "--commit", git_commit(), "--source", digest,
    ]
    if corrupt:
        cmd.append("--corrupt")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    left = max(10.0, timeout - (time.monotonic() - started))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=left)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise RuntimeError(f"{workload} run exceeded {timeout} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out


def selftest():
    """Smoke each workload: every registered metric is printed with its
    unit, and a corrupted expected value fails the correctness check."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            code, out = run(w, 1, 1, trace)
            result = json.loads(out.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if code != 0 or not result["correct"]:
                problems.append(f"{w} trace={trace}: exit {code}, "
                                f"correct={result['correct']}")
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != {want[trace]}")
        code, out = run(w, 1, 1, 0, corrupt=True)
        lines = out.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if code == 0 or result.get("correct", True) or not result.get("failed"):
            problems.append(f"{w}: corrupted expectation was not caught "
                            f"(exit {code}, {result})")
        log(f"selftest {w}: done")
    for p in problems:
        log(f"SELFTEST FAILED: {p}")
    log("selftest passed" if not problems else "selftest failed")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one expected value (self-test)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log(f"no program sources under {ROOT}/src; run from a full checkout")
        return 2
    try:
        if a.selftest:
            return selftest()
        if a.workload is None:
            ap.error("--workload is required")
        code, out = run(a.workload, a.seed, a.seconds, a.trace, a.corrupt)
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
