#!/usr/bin/env python3
"""The benchmark's build: compiles the harness (perfbench/src/main/scala)
together with the engine's main sources (src/main/scala) using the Scala
compiler that ships in the Spark distribution's jar directory, the same
jars the engine compiles and runs against.

    python3 perfbench/build.py      # builds, then prints the classpath

Run from the repository root. Classes go to .bench_build/perfbench/classes;
an unchanged source tree is not compiled again. Needs a JDK (JAVA_HOME or
`java` on PATH) and a Spark distribution: SPARK_HOME, else the one whose
`spark-submit` is on PATH, else the jar directory the root build.sbt names
as its unmanagedBase. No build tool, network or home-directory cache is
used.
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
COMPILE_TIMEOUT_S = 800


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run_child(cmd, cwd, env, stdout, timeout, stderr=subprocess.STDOUT):
    """Runs cmd in its own process group; on timeout kills the whole group.
    Always waits for the child to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no JDK: set JAVA_HOME or put java on PATH", 3)
    return found


def spark_jars():
    """The Spark distribution's jar directory."""
    tried = []
    if os.environ.get("SPARK_HOME"):
        tried.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        tried.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            tried.append(m.group(1))
    except OSError:
        pass
    for d in tried:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail(f"no Spark jar directory with a Scala compiler among {tried}", 3)


def build():
    """Compiles harness + engine once per source state; returns the runtime
    classpath."""
    jars = spark_jars()
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    want = tree_hash([BENCH_SRC, ENGINE_SRC]) + "\n" + "\n".join(jar_list)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == want:
        return cp
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sources = sorted(os.path.join(d, f) for top in (BENCH_SRC, ENGINE_SRC)
                     for d, _, fs in os.walk(top) for f in fs
                     if f.endswith(".scala"))
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp,
                           "-classpath", os.pathsep.join(jar_list)] + sources))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "@" + argfile],
                       ROOT, os.environ, out, COMPILE_TIMEOUT_S)
    if rc != 0:
        fail(f"compile failed (rc={rc}):\n{tail(log)}", 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("run from the repository root: the engine sources "
             "(src/main/scala) are missing")
    print(build())
