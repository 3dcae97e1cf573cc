#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result JSON as the last line.

    python3 perfbench/run.py --workload qa_serve --seed 1 --seconds 20 --trace 0

Builds first if needed (perfbench/build.py), then runs perfbench.Main in one
JVM with a local Spark session. Workloads: qa_serve, ingest_churn,
dedup_batch. Everything the run writes stays under .bench_build/perfbench of
the repository root; the run's working directory is removed at the end.
Exit code 0: the run finished and every check passed; 1: a check failed (the
result is still printed); 2: the run could not finish (nothing printed)."""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("qa_serve", "ingest_churn", "dedup_batch")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = build.BUILD / "logs" / f"{a.workload}-{a.seed}-{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    # the first run after a build writes the class-data archive, under a name
    # of its own until it is complete; later runs map it
    dump = build.CDS_ARCHIVE.with_suffix(f".{os.getpid()}.tmp")
    cds = (f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}" if build.CDS_ARCHIVE.is_file()
           else f"-XX:ArchiveClassesAtExit={dump}")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout; JVM log
    # lines go to stderr only, so the result stays the last stdout line
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds,
            "-Xlog:disable", "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--workdir", str(work)])
    p = None
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 cwd=work)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                print(f"perfbench: {a.workload} timed out; see {log}", file=sys.stderr)
                return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if dump.is_file():
            if p is not None and p.returncode in (0, 1):
                os.replace(dump, build.CDS_ARCHIVE)
            else:
                dump.unlink()
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        result = None
    if p.returncode not in (0, 1) or result is None:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        print(f"perfbench: {a.workload} exited with code {p.returncode}; see {log}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
