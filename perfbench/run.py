#!/usr/bin/env python3
"""Build graft from the checkout and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark with sbt (the benchmark's own build under perfbench/, which
compiles the checkout's sources); later runs reuse that build while no
source file has changed. The workload then runs in one JVM with Spark on
half the machine's cores (see jvm_cpu_flags), and its last stdout line is
the JSON result. Inputs, Spark scratch space and the warehouse live under
perfbench/work/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("pu_weight", "curate_corpus", "retrieve_mixed")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# graft's build.sbt (org.apache.spark.launcher.JavaModuleOptions).
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


def run_child(cmd, timeout, what, **kw):
    """Run `cmd` in its own process group and wait for it. On a timeout, or
    when this script is told to stop, the whole group is killed and reaped
    first: sbt and Spark start processes of their own."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)

    def kill_group():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def on_signal(signum, _frame):
        kill_group()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group()
        fail(f"{what} did not finish in {timeout} s")
    return p.returncode, out


def source_files():
    """Every file the build reads: graft's sources and build, the benchmark's."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".properties", ".scala"))]
        for d, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt unless the last build used the same sources."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    print("perfbench: building graft and the benchmark with sbt", file=sys.stderr)
    code, out = run_child(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, "build", cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)


def driver_heap():
    """Half of MemTotal in GiB, clamped to [2, 8]: the repository's test rule."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 2


def spark_cores(n):
    """Spark gets half the cores, so the driver, GC and JIT threads do not
    queue behind its task threads on a small shared machine."""
    return max(1, n // 2)


def jvm_cpu_flags(n):
    """The JVM sizes its GC and task pools for Spark's share of the cores,
    and compiles on all of them, with thresholds lowered so that the
    workload's driver-side code reaches C2 within the few warm-up passes a
    run can afford (perfbench/README.md has the measurements)."""
    return [f"-XX:ActiveProcessorCount={spark_cores(n)}",
            f"-XX:CICompilerCount={max(2, n)}",
            "-XX:CompileThresholdScaling=0.3"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources beside the benchmark (expected {ROOT}/src/main/scala/graft)")
    digest = source_digest()
    build(digest)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    # a fixed young generation keeps heap growth, and with it VmHWM, from
    # following GC timing
    n = nproc()
    cmd = (["java", f"-Xmx{driver_heap()}", "-Xmn1g"] + jvm_cpu_flags(n)
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              f"-Dspark.local.dir={local}",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dperfbench.source={digest}",
              f"-Dperfbench.nproc={n}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK])
    try:
        code, _ = run_child(cmd, RUN_TIMEOUT_S, "workload", cwd=ROOT, env=env)
    finally:
        shutil.rmtree(local, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
