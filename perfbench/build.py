#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/src) using the Scala compiler that ships
in Spark's jars, into the build directory ($CARGO_TARGET_DIR, default
.bench_build, relative to the checkout root).

The output directory is keyed by a digest of every source file, so a second
run with unchanged sources reuses it. The two most recently used builds are
kept, so runs that alternate between two source trees sharing one build
directory do not recompile each time.

    python3 perfbench/build.py      # prints the classes directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first spark-submit on
    PATH whose installation ships the Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar")):
            return jars
    raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    graft = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    if not graft:
        raise BuildError("graft sources not found under src/main/scala; run from a full checkout")
    harness = sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    return graft + harness


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiler_classpath():
    jars = []
    for name in ("scala-compiler", "scala-reflect", "scala-library"):
        found = sorted(glob.glob(os.path.join(spark_jars(), name + "-2.13.*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found in {spark_jars()}")
        jars.append(found[-1])
    return os.pathsep.join(jars)


def build():
    """Return (classes directory, source digest), compiling if needed."""
    files = sources()
    digest = source_digest(files)
    base = os.path.join(build_dir(), "perfbench")
    out = os.path.join(base, "classes-" + digest[:16])
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            os.utime(out)  # most recently used
            return out, digest
        # keep the most recently used complete build; drop the rest and any
        # build a killed run left half done
        builds = sorted(glob.glob(os.path.join(base, "classes-*")),
                        key=lambda d: (os.path.exists(os.path.join(d, ".complete")),
                                       os.path.getmtime(d)))
        for old in builds[:-1]:
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = [java(), "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + base,
               "-cp", compiler_classpath(), "scala.tools.nsc.Main", "-nowarn",
               "-cp", os.path.join(spark_jars(), "*"), "-d", tmp] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
        return out, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
