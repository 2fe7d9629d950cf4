"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (perfbench/build.py), then
runs one JVM with a local Spark session inside a fresh scratch directory
under .bench_build/, which is removed afterwards. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
A traced run also writes its spans to .bench_build/traces/.
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

WORKLOADS = ("lookup", "text")
# a run must end within 180 s; the JVM gets what is left after the build
RUN_LIMIT_S = 170
HEAP = "2g"
# the parallel collector: steadier op latency and peak RSS than G1 here
GC = "-XX:+UseParallelGC"
# Spark on JDK 17 outside spark-submit needs these (the list the
# launcher's JavaModuleOptions injects)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    t0 = time.monotonic()
    base = os.path.join(build.ROOT, ".bench_build")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = ""
    if a.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_out = os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl")

    # no /tmp/hsperfdata file: the run writes inside its checkout only
    cmd = [build.java(), f"-Xmx{HEAP}", "-Xss4m", GC, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", work, "--trace-out", trace_out]
    # Spark would put its scratch files wherever these name, outside the run
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("\n".join(lines[-1:]), file=sys.stderr)
        print(f"perfbench: no result line (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(lines[-1])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
