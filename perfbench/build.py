#!/usr/bin/env python3
"""Build the benchmark: compile the engine (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships with Spark. The
classes land in .bench_build/perfbench/<hash of the sources>/classes; a build
whose sources are unchanged is reused.

Usage: python3 perfbench/build.py    (prints the build directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """$SPARK_HOME, else the Spark that ships inside the pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
    except ImportError:
        raise SystemExit("build: set SPARK_HOME to a Spark 4.1 installation")
    return os.path.dirname(pyspark.__file__)


JARS = os.path.join(spark_home(), "jars")
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def java_cmd(out, work):
    """The JVM command line that runs perfbench.Main from build `out`."""
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", os.path.join(out, "classes") + os.pathsep + os.path.join(JARS, "*"), "perfbench.Main"]


def compile_classes(srcs, out):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(JARS, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-d", classes,
                        "-classpath", cp, "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")


def build():
    """Build if needed; return the build directory."""
    if not os.path.isdir(JARS):
        raise SystemExit(f"build: no Spark jars at {JARS}; set SPARK_HOME")
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise SystemExit("build: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, ".bench_build", "perfbench", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compile_classes(srcs, out)
    open(os.path.join(out, "ok"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
