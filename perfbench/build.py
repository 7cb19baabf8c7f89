"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) from source with the Scala compiler that
ships among Spark's jars, into <build dir>/perfbench/classes.

A build is reused while the sources it was made from are unchanged (a
SHA-256 over every source path and its bytes).
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    """The benchmark's build and work area, inside the checkout."""
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: neither SPARK_HOME nor spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}; run from the repository root")
    files = []
    for d in (main, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root="."):
    """Compiles if needed; returns the classpath to run with."""
    root = os.path.abspath(root)
    srcs = sources(root)
    jars = spark_jars()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    os.makedirs(out, exist_ok=True)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(out, "classes.sha256")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        current = open(stamp).read() if os.path.exists(stamp) else ""
        if current != digest.hexdigest():
            shutil.rmtree(classes, ignore_errors=True)
            os.makedirs(classes)
            argfile = os.path.join(out, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(srcs) + "\n")
            cp = os.path.join(jars, "*")
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                   "-classpath", cp, "-d", classes, "-nowarn", "@" + argfile]
            print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
            res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
            if res.returncode != 0:
                raise SystemExit(f"perfbench: compilation failed ({res.returncode})")
            with open(stamp, "w") as fh:
                fh.write(digest.hexdigest())
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
