"""Build of the benchmark: compiles the library sources (`src/main/scala`)
together with the harness (`perfbench/harness`) with the Scala compiler that
ships in Spark's jar directory (see `spark_jars`).

    python3 perfbench/build.py

Classes go to `$CARGO_TARGET_DIR/perfbench-classes` (default
`.bench_build/`) in the current directory, which must be a checkout of the
repository. A source hash stamp skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory and jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` directory the repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            sys.exit("set SPARK_HOME: build.sbt names no unmanagedBase directory")
        jars = m.group(1)
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        sys.exit(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars, found


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        sys.exit("no library sources under src/main/scala: run from a checkout of the repository")
    return lib + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root):
    """Compiles library + harness with scalac; reuses the classes when no
    source changed. Returns the classes directory."""
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(build_dir, "perfbench-classes")
    srcs = sources(root)
    jars_dir, jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars_dir, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    if not all(os.path.exists(c) for c in compiler):
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        sys.exit("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
