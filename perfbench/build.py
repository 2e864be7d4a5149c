"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own sources into one class directory.

The Scala compiler and every library come from the Spark distribution's
jars directory (found through SPARK_HOME, or the `spark-submit` on PATH,
or the installed pyspark package), so the build needs no network and no
build tool. Classes are cached under `.bench_build/perfbench/` keyed by a
hash of every source file, so a second run in the same checkout reuses
them.

    python3 perfbench/build.py        # prints the class directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = []
    if home:
        candidates.append(os.path.join(home, "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark  # noqa: F401  (only its jars directory is used)
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, root)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root):
    """Returns the class directory for the current sources, compiling
    them first when no cached build matches."""
    out_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build_locked(root, out_root)


def _build_locked(root, out_root):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    for old in os.listdir(out_root):
        if old.startswith("classes-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
