#!/usr/bin/env python3
"""Run one benchmark workload of the graft Spark library and print its result.

    python3 perfbench/run.py --workload <curation|kernels> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the library and
the harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run gets its own directory under
.bench_build/runs (inputs, java.io.tmpdir, spark.local.dir), deleted at exit.
The detail record of each run (environment, per-pass figures, spans) is kept
under .bench_build/results. The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Extra options: --scale bench|test, --inject-fault <op> (the named op throws,
for the benchmark's own test), --record <file> (write every observed op
output, for refreshing expected.json), --cores <n>.
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
STATE = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
MAIN_SOURCES = os.path.join(ROOT, "src", "main")
HEAP = "3g"
YOUNG = "512m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (MAIN_SOURCES, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first installation on PATH: a bin/ directory
    holding spark-submit next to a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    log("no Spark installation: set SPARK_HOME or put Spark's bin/ on PATH")
    sys.exit(2)


def build():
    stamp = os.path.join(STATE, "build.stamp")
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == fp:
                return
    log("building the library and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    build_log = os.path.join(STATE, "build.log")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        with open(build_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"build failed (exit {rc})")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    log(f"build took {time.time() - t0:.1f} s")


def run_child(cmd, cwd, env, stdout, timeout):
    """Runs a child in its own process group; kills the group on timeout or
    interrupt, and always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        log(f"{cmd[0]} did not finish within {timeout} s" if timeout else "interrupted")
        return -1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def steal_seconds():
    """CPU time taken by the hypervisor (the `steal` column of /proc/stat):
    a run with much of it ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a plain SIGTERM would skip the cleanup below and orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["curation", "kernels"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="bench", choices=["bench", "test"])
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--inject-fault")
    ap.add_argument("--record")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(MAIN_SOURCES, "scala")):
        log(f"no library sources at {os.path.relpath(MAIN_SOURCES, os.getcwd())}; "
            "run from the root of a full checkout")
        sys.exit(2)
    os.makedirs(STATE, exist_ok=True)
    build()

    classpath = os.pathsep.join([CLASSES, os.path.join(MAIN_SOURCES, "resources"),
                                 os.path.join(spark_home(), "jars", "*")])
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(STATE, "runs", f"{name}-{os.getpid()}")
    results = os.path.join(STATE, "results")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed young generation, and a pause-time goal lax enough that the
    # collector grows the old generation only when its data needs the room
    # (not when a busy host slows its pauses), keep the JVM's peak RSS from
    # following adaptive sizing, so peak_rss_mb tracks retained data
    jvm += [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:GCTimeRatio=1",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
            "-cp", classpath, "perfbench.Main"]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--cores", str(a.cores),
            "--run-dir", run_dir, "--result", result_file,
            "--expected", os.path.join(HERE, "expected.json")]
    if a.inject_fault:
        args += ["--inject-fault", a.inject_fault]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]

    load_before, steal_before = loadavg(), steal_seconds()
    try:
        args += ["--launch-ms", str(int(time.time() * 1000))]
        # two malloc arenas keep native allocations (zlib, parquet, netty)
        # from spreading over one arena per thread, which makes RSS wander
        rc = run_child(jvm + args, cwd=ROOT, env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                       stdout=sys.stderr, timeout=RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result_file):
            log(f"the benchmark JVM failed (exit {rc})")
            sys.exit(1)
        with open(result_file) as f:
            detail = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    env = detail["env"]
    steal = steal_seconds()
    env.update(commit=commit(), heap=HEAP, young=YOUNG, loadavg_before=load_before,
               loadavg_after=loadavg(),
               cpu_steal_s=None if steal is None else round(steal - steal_before, 2))
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump(detail, f)
    print(json.dumps({"env": {k: v for k, v in env.items() if k != "end_to_end"}}))
    print(json.dumps(detail["result"]), flush=True)


if __name__ == "__main__":
    main()
