"""Datalog engine benchmark: builds the engine and the benchmark from
source, runs one workload in a fresh JVM and prints its result as the
last line of standard output.

    python3 perfbench/run.py --workload tc_grid --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Workloads are described in BENCHMARK.json.
Build outputs, generated inputs, JVM logs and traces go under
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["tc_grid", "mono_gnp", "bound_mix"]
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classpath, work, log_path, args):
    """Runs the benchmark main; returns (exit code, stdout lines)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        # Spark's scratch space stays inside the checkout
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            log.write("\nperfbench: killed after %d s\n" % TIMEOUT_S)
            return -1, []
    return proc.returncode, out.decode(errors="replace").splitlines()


def fail(msg, log_path=None):
    sys.stderr.write("perfbench: %s\n" % msg)
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="test the benchmark's generators and oracles")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or not a.seconds or a.seconds < 1):
        ap.error("--workload, --seed and --seconds (>= 1) are required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)
    except subprocess.TimeoutExpired:
        fail("build timed out")

    root = build.build_root()
    tag = "selftest" if a.selftest else "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(root, "work", "%s-%d" % (tag, os.getpid()))
    logs = os.path.join(root, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, tag + ".log")
    if a.selftest:
        args = ["--selftest", "1", "--work", work]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--trace-out", os.path.join(root, "traces", tag + ".jsonl")]
    try:
        code, lines = jvm(classpath, work, log_path, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail("benchmark JVM exited with %s" % code, log_path)
    if a.selftest:
        print(lines[-1])
        return
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("no result line", log_path)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", log_path)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
