#!/usr/bin/env python3
"""End-to-end benchmark of graft's /services/execute path.

Run from the repository root:

    python3 perfbench/run.py --workload climate_export --seed 1 --seconds 15 --trace 0

Builds the engine plus the benchmark driver with sbt (once per checkout;
again only when a source file is newer than the last build), runs one
JVM for the chosen workload, prints every metric with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
ENGINE_SRC = os.path.join("src", "main")
WORK_ROOT = os.path.join(".bench_build", "perfbench")
CLASSPATH_FILE = os.path.join(BENCH_DIR, "target", "bench.classpath")
# The driver JVM's heap is fixed here: the engine's own build defaults
# -Xmx to SPARK_DRIVER_MEM or 48g, more than small hosts have.
DRIVER_XMX = "3g"
BUILD_TIMEOUT_S = 840
# The JVM's time limit: set-up, plus the timed window, plus with
# --trace 1 the traced pass of about the same length, each allowed twice
# its nominal time.
RUN_SETUP_TIMEOUT_S = 110
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    if not os.path.isdir(".git"):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """SPARK_HOME, else the installation whose bin/ is on the PATH."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return None


def build(files):
    if os.path.isfile(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in files):
            return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    home = spark_home()
    if home is None:
        log("no Spark installation: set SPARK_HOME (a directory with jars/spark-core_*.jar)")
        return False
    env["SPARK_HOME"] = home
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building (sbt writeClasspath)")
    t = time.time()
    # sbt's global base (zinc and server state) goes under the build
    # directory; the launcher's boot jars are read from the user's sbt
    sbt_global = os.path.abspath(os.path.join(WORK_ROOT, "sbt-global"))
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                    f"-Dsbt.global.base={sbt_global}", "-J-XX:-UsePerfData",
                    "writeClasspath"],
                   BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env,
                   stdout=sys.stderr, stderr=sys.stderr)
    log(f"build finished rc={rc} in {time.time() - t:.1f}s")
    return rc == 0 and os.path.isfile(CLASSPATH_FILE)


def metric_lists():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def run_timeout(seconds, trace):
    return RUN_SETUP_TIMEOUT_S + 2 * seconds * (2 if trace else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM's process group is
    # killed and waited for (run_child) and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"no engine sources under ./{ENGINE_SRC}: run from the repository root")
        return 2
    e2e, per_layer = metric_lists()
    files = source_files()
    if not build(files):
        log("build failed")
        return 1

    work = os.path.abspath(os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report = os.path.join(work, "report.json")
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{DRIVER_XMX}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--report", report,
           "--source-digest", source_digest(files), "--git-commit", git_commit()]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as lf:
            rc = run_child(cmd, run_timeout(a.seconds, a.trace), env=env,
                           stdout=lf, stderr=lf)
        if rc != 0 or not os.path.isfile(report):
            with open(jvm_log, errors="replace") as lf:
                sys.stderr.write("".join(lf.readlines()[-60:]))
            log(f"benchmark JVM failed (rc={rc})")
            return 1
        with open(report) as fh:
            rep = json.load(fh)
        keep = os.path.join(WORK_ROOT, f"last-{a.workload}-trace{a.trace}.json")
        shutil.copyfile(report, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    fp = rep["fingerprint"]
    print(f"workload {rep['workload']}: {rep['clients']} closed-loop client(s), "
          f"seed {rep['seed']}, {rep['seconds']} s")
    print("host: " + ", ".join(f"{k}={v}" for k, v in fp.items()))
    for f in rep["inputs"]:
        print(f"input {f['name']}: {f['bytes']} bytes sha256 {f['sha256']}")
    print(f"inputgen_s: {rep['inputgen_s']:.3f} s")
    print(f"latency tail = p{rep['latency_tail_percentile']:g} over "
          f"{rep['latency_samples']} samples ({rep['latency_tail_beyond']} beyond)")
    print(f"attempted {rep['attempted']}, failed {rep['failed']} {rep['failures']}")
    for msg in rep["first_failures"]:
        print(f"failure: {msg}")
    print(f"failed_frac: {rep['failed_frac']:.6g} (failed / attempted)")
    units = {m["name"]: m["unit"] for m in e2e + per_layer}
    for name in [n for n in units if n in rep["metrics"]]:
        print(f"{name}: {rep['metrics'][name]:.6g} {units[name]}")
    for name in [n for n in rep["metrics"] if n not in units]:
        print(f"{name}: {rep['metrics'][name]:.6g} (not in BENCHMARK.json)")

    wanted = per_layer if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in rep["metrics"]]
    if missing:
        log(f"report lacks metrics {missing}")
        return 1
    out = {"correct": rep["failed"] == 0, "attempted": rep["attempted"],
           "failed": rep["failed"],
           "metrics": {m["name"]: {"value": rep["metrics"][m["name"]],
                                   "unit": m["unit"]} for m in wanted}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
