#!/usr/bin/env python3
"""Genomics I/O benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft and
the benchmark with sbt (into the checkout's target/ directories) and
copies the compiled classes into .bench_build/; later runs reuse that
copy while the sources hash to the same value. Every run starts one
fresh JVM. The last line of stdout is the result object, the line before
it the full report.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan", "regions", "sort_write", "overlap_join")
HEAP = "1g"
# what spark-submit passes on JDK 17 (JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, n) for n in os.listdir(d)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_stamp():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=30).stdout.strip()
        return sha + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(stamp, deadline):
    """sbt build of graft + benchmark; returns the runtime classpath and
    whether it had to build. The compiled class directories are copied
    into BUILD, so the cached classpath never points at target/
    directories that a later build or clean in the checkout rewrites."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory,
    # also from the JVMs the sbt launcher starts to probe the JDK
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("export Runtime/fullClasspath")
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=max(30, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    classes = os.path.join(BUILD, "classes")
    if os.path.isfile(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(classes, str(i))
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no graft sources to build")
    src = source_hash()
    cp, built = build(src, start + 840)
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    # the JVM is halted at the end, so Spark's shutdown hooks leave
    # files here; start every run from an empty directory
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--git", git_stamp(), "--src", src]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=max(60, start + (890 if built else 175) - time.time()))
    except subprocess.TimeoutExpired:
        fail("run timed out")
    lines = p.stdout.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(p.stdout)
        fail(f"benchmark JVM exited with {p.returncode}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
