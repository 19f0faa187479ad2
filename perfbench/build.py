"""Build file of the benchmark package: compiles the program and the harness.

The program's Scala sources (``src/main/scala``) and the harness
(``perfbench/src``) compile together with the Scala compiler that ships in
Spark's jar directory, against the same jars the project's sbt build uses.
Output goes to ``.bench_build/classes``; a hash of every source file
decides whether a rebuild is due.

    python3 perfbench/build.py        # build if stale, print the class dir
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCE_DIRS = (ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src")
RESOURCES = ROOT / "src" / "main" / "resources"  # data source registration, log config

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# project's sbt build passes to forked runs.
JVM_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no Spark found: set SPARK_HOME or put spark-submit on PATH")
        home = pathlib.Path(submit).resolve().parent.parent
    jars = pathlib.Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError("no jar directory at %s" % jars)
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources():
    missing = [d for d in SOURCE_DIRS + (RESOURCES,) if not d.is_dir()]
    if missing:
        raise BuildError("source directory missing: %s" % ", ".join(map(str, missing)))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala")) + sorted(
        p for p in RESOURCES.rglob("*") if p.is_file())


def build():
    """Compile if any source changed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = OUT / "classes", OUT / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    fresh = OUT / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs if p.suffix == ".scala") + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(fresh), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    shutil.copytree(RESOURCES, fresh, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build failed: %s" % e)
