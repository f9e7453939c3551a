#!/usr/bin/env python3
"""CDC benchmark for graft: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload catchup|live --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and exports the
runtime classpath once; every run then launches `java` directly, so
`setup_s` measures graft and not sbt. Build output, scratch tables and
traces all stay under .bench_build/ in the checkout.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The exit code is non-zero when an output check fails or the
run cannot start.
"""

import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import uuid

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# scratch the run writes (backlog parquet, lake tables, spill): a ceiling
SCRATCH_BUDGET_MB = 1024

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def meminfo_kb():
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            info[k] = int(v.split()[0])
    return info


def heap_gb():
    """Heap sized from MemTotal as the tier-1 test launch does
    (MemTotal / 2 GiB, clamped to 2..8 GiB), then checked against what
    is available now: the pre-touched heap plus the scratch budget must
    fit, or the heap shrinks (never below 2 GiB)."""
    info = meminfo_kb()
    total_g = info["MemTotal"] // (2 * 1024 * 1024)
    heap = min(8, max(2, total_g))
    avail_g = info.get("MemAvailable", info["MemTotal"]) / (1024 * 1024)
    fit = int(avail_g - SCRATCH_BUDGET_MB / 1024 - 1)  # 1 GiB for off-heap
    if fit < heap:
        if fit < 2:
            fail(f"only {avail_g:.1f} GiB available; need 2 GiB heap + scratch")
        print(f"perfbench: heap {heap} GiB + scratch does not fit in "
              f"{avail_g:.1f} GiB available; using {fit} GiB", file=sys.stderr)
        heap = fit
    return heap


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # otherwise the directory the engine's own build names
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("Spark jars not found (set SPARK_HOME)")


def source_stamp(root):
    h = hashlib.sha256()
    tops = ["src/main", "perfbench/src/main", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs a child in its own process group; on timeout or on our own
    termination the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(3)

    old = {s: signal.signal(s, kill) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out


def build(root, out_dir, jars):
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env["PERFBENCH_CLASSPATH_OUT"] = cp_file
    env["PERFBENCH_SPARK_JARS"] = jars
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.supershell=false",
           "exportClasspath"]
    print("perfbench: building (sbt exportClasspath)", file=sys.stderr)
    code, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                          env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "live"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} missing: run from the root of a graft checkout")
    jars = spark_jars(root)
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    cp = build(root, base, jars)
    heap = heap_gb()

    work = os.path.join(base, "runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           # Spark's generated classes would otherwise set off full GCs
           # for metaspace, some of them inside timed work
           "-XX:MetaspaceSize=512m",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--trace-dir", os.path.join(base, "traces"),
            "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep spill in the work dir
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=root, env=env,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for ln in lines[:-1] if result else lines:
        print(ln, file=sys.stderr)
    if result is None:
        fail(f"benchmark printed no result (exit {code})", code or 4)
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
