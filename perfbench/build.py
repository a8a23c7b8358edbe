"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, so neither sbt nor a network is needed. The jars
are $SPARK_HOME/jars, else the unmanagedBase the program's build.sbt names:
the benchmark compiles against the jars the program builds against.

    python3 perfbench/build.py      # prints the classes directory

Output goes to .bench_build/perfbench/classes-<hash of every source>; a
build whose sources are unchanged is reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return main, bench


def jars():
    """Classpath wildcard of the Spark jars."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("no Spark jars: set SPARK_HOME")
    return os.path.join(m.group(1), "*")


def classpath(classes):
    return f"{classes}{os.pathsep}{jars()}"


def build(log=sys.stderr):
    """Compile if needed; returns the classes directory."""
    main, bench = sources()
    if not main:
        raise FileNotFoundError(f"no program sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(main)} program + {len(bench)} benchmark sources",
          file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars()] + main + bench
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise RuntimeError("build: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
