"""Runs one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload sketch_ingest --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source (see build.py), runs one
JVM on local[4], and passes its output through: a line per metric, then
one JSON line with `correct`, `attempted`, `failed` and `metrics`. Exits
non-zero, printing no result, if the build or the run fails.
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

WORKLOADS = ("sketch_ingest", "curate")
TIMEOUT_S = 170

# what spark-submit adds for Spark on JDK 17 (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(classpath, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-cp", classpath, main] + args)


def run_jvm(cmd, timeout):
    """Runs cmd in its own process group; returns (code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=timeout)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build.build(".")
    base = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(base, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        args += ["--trace-out", os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        code, lines = run_jvm(jvm_cmd(classpath, "perfbench.Main", args, work), TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        print(f"perfbench: run failed (exit {code}), no result", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
