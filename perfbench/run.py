"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the library and the
benchmark on first use (see build.py), then runs one workload in a fresh
JVM with a fresh temporary directory under .bench_build/ that is removed
on exit. The JVM prints one JSON result line last; this script relays it
as its own last line and exits non-zero when the run failed or a
correctness check did not hold.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search", "pipeline")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    work = os.path.join(root, build.BUILD_DIR, "tmp",
                        "run-%d-%d" % (os.getpid(), time.time_ns()))
    traces = os.path.join(root, build.BUILD_DIR, "traces")
    os.makedirs(os.path.join(work, "java"))
    os.makedirs(traces, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "java"),
            "-Dlog4j2.configurationFile=" +
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", work, "--trace-dir", traces,
              "--benchmark", os.path.join(root, "BENCHMARK.json")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    last = None
    try:
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: run exceeded %d s" % JVM_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if lines:
            last = lines[-1]
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(last) if last else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: no result line (exit code %d)" % proc.returncode)
    print(json.dumps(result))
    sys.stdout.flush()
    if proc.returncode != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
