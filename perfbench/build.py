#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the benchmark sources (perfbench/src) with the Scala compiler that ships
in the Spark jars, into .bench_build/perfbench/classes.jar under the
repository root.

    python3 perfbench/build.py

Rebuilds only when a source file changed (a digest of every source is kept
next to the classes). Exits non-zero when the engine sources or the Spark
jars are missing."""
import hashlib
import os
import zipfile
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes.jar"
STAMP = BUILD / "classes.sha256"
# JVM class-data archive of the classes a run loads, written by the first run
# after a build and mapped by later runs: it cuts JVM and Spark start-up
CDS_ARCHIVE = BUILD / "classes.jsa"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench build: SPARK_HOME is unset and build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources() -> list:
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    missing = [str(r.relative_to(ROOT)) for r in roots if not r.is_dir()]
    if missing:
        raise SystemExit(f"perfbench build: missing source directory {', '.join(missing)}")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compiles if needed; returns the classes jar."""
    files = sources()
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench build: no Scala compiler in {jars}")
    want = digest(files)
    if CLASSES.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac failed with code {r.returncode}")
    # a jar, not a directory: the JVM archives classes from jars only
    with zipfile.ZipFile(BUILD / "classes.jar.tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    CDS_ARCHIVE.unlink(missing_ok=True)
    os.replace(BUILD / "classes.jar.tmp", CLASSES)
    STAMP.write_text(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
