#!/usr/bin/env python3
"""graft benchmark: one session of document-store operations over graft's
public API, on a corpus generated from --seed, every output checked against
an independent computation.

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first call compiles graft and the
benchmark (see build.py). The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes spans and counts to <build dir>/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("vector_search", "text_dedup")
RESULT_TAG = "GRAFTBENCH_RESULT "
CHILD_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, tmp, main, args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
             "-Dderby.system.home=" + tmp]
    return ["java"] + opts + ["-cp", os.pathsep.join(classpath), main] + args


def slots():
    """Spark task slots: two cores are left to the driver thread (planning,
    code generation, collecting results), the JIT compiler and GC, which
    otherwise contend with the tasks; on a 4-core machine whose host also
    ran other machines, 3 or 4 slots made timings jumpy and no faster."""
    return max(1, min(4, (os.cpu_count() or 2) - 2))


def run_child(cmd, tmp, log_path):
    """Runs the JVM in its own process group; returns (rc, stdout lines)."""
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, env=env)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return 124, []
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out.splitlines()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that every output check rejects a corrupted output")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    # a terminated run still stops its JVM (run_child's finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2
    bdir = build.build_dir()
    tmp = os.path.join(bdir, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    if a.selftest:
        cmd = java_cmd(classpath, tmp, "graftbench.SelfTest", [])
        log = os.path.join(bdir, "logs", "selftest.log")
    else:
        # setup_s runs from here: the JVM's start is part of a cold set-up,
        # the build (done once per checkout) is not
        t0 = time.time_ns()
        cmd = java_cmd(classpath, tmp, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--t0-epoch-ns", str(t0), "--tmp", tmp,
            "--trace-dir", os.path.join(bdir, "traces"),
            "--cores", str(slots())])
        log = os.path.join(bdir, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    try:
        rc, lines = run_child(cmd, tmp, log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if a.selftest:
        print("\n".join(lines))
        return rc
    result = None
    for line in lines:
        if line.startswith(RESULT_TAG):
            result = line[len(RESULT_TAG):]
        else:
            print(line)
    if rc != 0 or result is None:
        sys.stderr.write(tail(log))
        print(f"graftbench: JVM exited with {rc}, no result (log: {log})", file=sys.stderr)
        return rc or 1
    json.loads(result)  # the last line must be valid JSON
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
