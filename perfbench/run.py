#!/usr/bin/env python3
"""Build the graft benchmark from source and run one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The engine is compiled from ../src/main/scala together with the
benchmark's own Scala sources (perfbench/build.sbt); the compiled
classpath is cached under the build directory ($CARGO_TARGET_DIR, default
.bench_build), one build per state of the sources. Before the first
`serve` run of a build, the serve index is built in a separate, untimed
process and cached next to that build. All generated data, Spark scratch
space and traces stay under the build directory.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("serve", "ingest")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(d):
        d = os.path.join(ROOT, d)
    return d


def source_stamp():
    """Hash of every file that goes into the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, **kw):
    """Run a child process to completion; never leave it behind (a
    SIGTERM to this process exits through the kill below)."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate()
    except BaseException:
        p.kill()
        p.wait()
        raise
    return p.returncode, out


def ensure_built(bdir):
    """Compile once per source stamp; builds of other stamps are kept."""
    stamp = source_stamp()
    key = stamp[:16]
    cp_file = os.path.join(bdir, "classpath-%s.txt" % key)
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), stamp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_TARGET=os.path.join(bdir, "sbt-" + key))
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "export Runtime/fullClasspath"]
    print("# building benchmark and engine with sbt", file=sys.stderr, flush=True)
    code, out = run_child(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l or l.endswith(".jar")]
    log = os.path.join(bdir, "build-%s.log" % key)
    with open(log, "w") as fh:
        fh.write(out)
    if code != 0 or not cps:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]"))[-4000:] + "\n")
        sys.exit("benchmark build failed (log: %s)" % log)
    cp = cps[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp, stamp


def mem_total_mb():
    try:
        with open("/proc/meminfo") as fh:
            for l in fh:
                if l.startswith("MemTotal:"):
                    return int(l.split()[1]) // 1024
    except OSError:
        pass
    return 0


def commit():
    """The commit under test, when the checkout is a git repository."""
    try:
        code, out = run_child(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              stdin=subprocess.DEVNULL, text=True)
    except OSError:
        return "unknown"
    return out.strip() if code == 0 and out.strip() else "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("engine sources not found at %s: run from a full checkout" % ENGINE_SRC)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("SPARK_HOME must point at a Spark installation")

    bdir = build_dir()
    cp, stamp = ensure_built(bdir)
    work = os.path.join(bdir, "work", a.workload)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = os.cpu_count() or 1
    # JVM heap: a quarter of the host's memory, within [2, 6] GB
    heap_gb = max(2, min(6, mem_total_mb() // 4096))
    java = ["java", "-Xmx%dg" % heap_gb, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + os.path.join(tmp, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for o in JVM_OPENS:
        java += ["--add-opens", o + "=ALL-UNNAMED"]
    java += ["-cp", cp, "graftbench.Main",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work, "--nproc", str(nproc), "--mem-mb", str(mem_total_mb()),
             "--commit", commit(), "--stamp", stamp]
    # the engine's session honours these; the benchmark runs its defaults,
    # and Spark's scratch space stays in the build directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_MASTER", "GRAFT_SHUFFLE_PARTITIONS", "SPARK_LOCAL_DIRS")}
    if a.workload == "serve" and not os.path.exists(
            os.path.join(work, stamp[:16], "_complete")):
        # the serve index depends on the build, not the seed: build it
        # once, untimed, in a process of its own
        print("# preparing the serve index", file=sys.stderr, flush=True)
        code, _ = run_child(java + ["--prepare", "1"], cwd=ROOT, env=env,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if code != 0:
            sys.exit("serve index preparation failed")
    code, _ = run_child(java, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    sys.exit(code)


if __name__ == "__main__":
    main()
