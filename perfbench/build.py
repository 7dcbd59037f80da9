"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala, plus src/main/resources)
together with the harness (perfbench/src) into one class directory with
the Scala compiler that ships in Spark's jar directory. No sbt, no
dependency resolution: the classpath is exactly Spark's jars.

    python3 perfbench/build.py        # prints the class directory

The output goes under $CARGO_TARGET_DIR (default .bench_build) of the
checkout, keyed by a hash of every input, so an unchanged tree is not
rebuilt and a changed one never reuses stale classes.
"""

import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repo build's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    return files, resources


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    return h.hexdigest()[:16]


def ensure_built():
    """Return the class directory for the current tree, building it if needed."""
    jars = spark_jars()
    files, resources = sources()
    out = os.path.join(build_dir(), "classes-" + stamp(files + resources, jars))
    if os.path.isdir(out):
        return out, jars
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out, jars
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [os.path.join(jars, n) for n in (
            "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar", "jline-3*.jar")]
        cp = ":".join(sorted(glob.glob(p))[0] for p in compiler)
        argfile = os.path.join(build_dir(), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("perfbench: compilation failed")
        res_root = os.path.join(ROOT, "src", "main", "resources")
        for p in resources:
            dst = os.path.join(tmp, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        for old in glob.glob(os.path.join(build_dir(), "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(ensure_built()[0])
