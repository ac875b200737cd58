"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark driver (`e2ebench/scala`) into `.bench_build/classes`.

The engine compiles against the Spark distribution it runs on
(`$SPARK_HOME/jars`, else build.sbt's `unmanagedBase`), which also ships
the Scala 2.13 compiler, so the build needs no dependency resolution and
no build tool.  A stamp of the
sources skips the compile when nothing changed.

    python3 e2ebench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("e2ebench", "scala")
BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the repository's own
    build compiles against (`unmanagedBase` in build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("no Spark 4 jars found; set SPARK_HOME to a Spark 4 distribution")
    return jars


def _sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("engine sources not found at %s; run from the repository root" % ENGINE_SRC)
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        out += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(out)


def _jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise SystemExit("no %s jar in %s" % (prefix, jars))
    return found[-1]


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    sources = _sources()
    h = hashlib.sha256()
    for path in sources:
        h.update(path.encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler_cp = os.pathsep.join(_jar(jars, p) for p in
                                  ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*")] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
