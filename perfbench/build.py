"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` plus its resources) together with the
benchmark harness (`perfbench/scala`) into `.bench_build/classes`, using the
Scala compiler that ships in Spark's jar directory, so the build needs
nothing beyond `$SPARK_HOME` and a JDK. A stamp over every source file
skips the compile when nothing changed. After a compile it also dumps every
catalog query's DuckDB oracle SQL, which the expected-result step reads.

Run standalone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(BUILD, "classes")
ORACLES = os.path.join(BUILD, "oracle_sql.json")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "src", "main", "resources"),
               os.path.join(ROOT, "perfbench", "scala")]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def classpath():
    return CLASSES + os.pathsep + spark_jars()


def java_opens():
    out = []
    for p in JDK_OPENS:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def _sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    files = _sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(ORACLES):
        return
    print("perfbench: compiling engine + harness", file=log, flush=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", spark_jars(), "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", spark_jars(), "@" + argfile],
        check=True, stdout=log, stderr=log)
    res = os.path.join(ROOT, "src", "main", "resources")
    shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    subprocess.run(
        ["java", "-Xmx1g", *java_opens(), "-cp", classpath(), "perfbench.Oracles", ORACLES],
        check=True, stdout=log, stderr=log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    ensure_built()
