#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout) together with the benchmark sources (perfbench/src) with the Scala
compiler that ships with Spark, into <build dir>/perfbench/classes, and dumps
the registry's oracle SQL that perfbench/oracle.py runs.

The build dir is $CARGO_TARGET_DIR when set, else .bench_build. A stamp of
the sources' contents skips the compile when nothing changed. Run it alone
with `python3 perfbench/build.py`; perfbench/run.py calls it first.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAST_BUILD_COMPILED = False


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    """Spark's jars (they carry the Scala compiler too): $SPARK_HOME/jars,
    else the jar directory the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        sys.exit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def oracle_sql():
    """The registry's oracle SQL of the near-dup queries, dumped at build time."""
    return os.path.join(build_dir(), "perfbench", "oracle_sql.json")


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not os.path.isdir(spark_jars()):
        sys.exit(f"perfbench: Spark jars not found at {spark_jars()}")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile if the sources changed; return the classes directory."""
    global LAST_BUILD_COMPILED
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(classes), "perfbench.Main",
                        "--oracle-sql", oracle_sql()], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: dumping the oracle SQL failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    LAST_BUILD_COMPILED = True
    return classes


if __name__ == "__main__":
    print(build())
