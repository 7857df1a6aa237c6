#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft together with the benchmark runner
(perfbench/build.sbt compiles ../src/main/scala) when the sources changed since
the last build, then runs one benchmark process and relays its output; the
last stdout line is the JSON result. Every run is archived under
perfbench/archive/ with its own file name.
"""
import argparse
import hashlib
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench-build.stamp")
WORKLOADS = ("stream_fused", "durable_run")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_hash):
    """Compile with sbt once per source state; return the runtime classpath."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp_hash, classpath = fh.read().split("\n", 1)
        if stamp_hash == src_hash:
            return classpath.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building graft and the benchmark runner with sbt", file=sys.stderr)
    p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(src_hash + "\n" + classpath)
    return classpath


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def heap_mb():
    """One fixed heap for every workload: 3 GiB, or a third of RAM if smaller."""
    return max(1024, min(3072, mem_total_kb() // 3 // 1024))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline",
                                       "KgPipeline.scala")):
        fail("graft sources (src/main/scala) not found next to perfbench/; "
             "run from a full checkout of the repository")
    src_hash = source_hash()
    classpath = build(src_hash)

    started = time.monotonic()
    work = os.path.join(BENCH, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    archive = os.path.join(BENCH, "archive")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    affinity = (",".join(str(c) for c in sorted(os.sched_getaffinity(0)))
                if hasattr(os, "sched_getaffinity") else "unknown")
    heap = heap_mb()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xmn512m",
            "-XX:-UseAdaptiveSizePolicy", "-XX:SurvivorRatio=4",
            "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
            f"-XX:ParallelGCThreads={cpus}", f"-XX:ActiveProcessorCount={cpus}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graft.perfbench.Runner",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--archive", archive,
            "--expected", os.path.join(BENCH, "expected.tsv"),
            "--fact.nproc", str(os.cpu_count()), "--fact.affinity", affinity,
            "--fact.mem_total_kb", str(mem_total_kb()), "--fact.heap_mb", str(heap),
            "--fact.git_sha", git_sha(), "--fact.source_sha256", src_hash,
            "--fact.host_os", platform.platform()])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(30, RUN_LIMIT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark process exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark process failed (exit {proc.returncode})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
