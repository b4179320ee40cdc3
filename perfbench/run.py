#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark program from source (sbt, once per
source state), then runs one workload in one JVM and relays its output. The
last stdout line is the run's JSON result. Everything a run writes goes under
`.bench_build/perfbench/` in the checkout. `--size tiny` runs the smoke size.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve", "ingest")
START = time.monotonic()
BUILD_TIMEOUT_S = 840
# Whole-command limits: 900 s for a run that builds, 180 s for any other;
# the workload gets what is left of them, less a few seconds to clean up.
BUILD_RUN_LIMIT_S = 900
RUN_LIMIT_S = 180
CLEANUP_S = 6

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
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


def source_files():
    """Every file the build reads: engine sources and build, benchmark sources and build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    singles = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt"),
               os.path.join(BENCH_DIR, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        singles += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                    if f.endswith((".sbt", ".properties", ".scala"))]
    out = [f for f in singles if os.path.isfile(f)]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or when
    this launcher is terminated, and wait for it either way."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum=None, _frame=None):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        if signum is not None:
            sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"{cmd[0]} timed out after {timeout:.0f}s", 1)
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def classpath():
    """Build if the sources changed since the last build; return the runtime
    classpath and whether this call built it.

    The build runs under an exclusive lock, so runs started together in one
    checkout build once and the others wait for that build.
    """
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "stamp.txt")
    s = stamp()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as fh:
                if fh.read().strip() == s:
                    with open(cp_file) as cf:
                        return cf.read().strip(), False
        if shutil.which("sbt") is None:
            fail("sbt not found on PATH")
        t0 = time.time()
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(out[-4000:])
            fail("build failed", 1)
        # Entries inside the checkout are kept relative to its root (the JVM
        # runs there), so a checkout that is moved with its build still runs.
        cp = os.pathsep.join(os.path.relpath(e, ROOT) if e.startswith(ROOT + os.sep) else e
                             for e in lines[-1].strip().split(os.pathsep))
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(s)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return cp, True


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def gib(spec):
    """A JVM memory size ("7g", "4096m") in GiB, or None if unreadable."""
    units = {"k": 1 / 1048576, "m": 1 / 1024, "g": 1, "t": 1024}
    spec = spec.strip().lower()
    try:
        return float(spec[:-1]) * units[spec[-1]] if spec[-1] in units else float(spec) / 2 ** 30
    except (ValueError, IndexError):
        return None


def driver_mem():
    """The tier-1 heap rule: half the machine's memory, clamped to 2..8 GiB.
    SPARK_DRIVER_MEM may lower it (to 1 GiB at least, the initial heap), not
    raise it: a heap larger than the rule lets the driver's resident set
    outgrow a shared machine."""
    g = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    rule = f"{min(8, max(2, g))}g"
    env = os.environ.get("SPARK_DRIVER_MEM", "")
    want = gib(env) if env else None
    return env if want is not None and 1 <= want <= gib(rule) else rule


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"engine source missing: {os.path.relpath(need, ROOT)} "
                 "(run from the root of a full checkout)")

    cp, built = classpath()
    deadline = START + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - CLEANUP_S
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    # Spark's scratch space stays inside the run directory even when the
    # environment names another one: a run reads and writes only its checkout.
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Loopback only: no host-name lookup, which can stall without a network.
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    mem = driver_mem()
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home and os.path.isfile(
        os.path.join(home, "bin", "java")) else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = ([java, f"-Xmx{mem}", "-Xms1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cores", str(nproc()), "--size", a.size,
              "--work-dir", run_dir])
    try:
        code, out = run_bounded(cmd, deadline - time.monotonic(), cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, text=True)
    finally:
        spans = [f for f in os.listdir(run_dir) if f.startswith("spans-")] \
            if os.path.isdir(run_dir) else []
        for f in spans:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.move(os.path.join(run_dir, f), os.path.join(WORK, "spans", f))
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        print(l)
    sys.stdout.flush()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        how = f"was killed by signal {-code}" if code < 0 else f"exited with {code}"
        fail(f"workload {a.workload} (seed {a.seed}, trace {a.trace}) {how}", 1)


if __name__ == "__main__":
    main()
