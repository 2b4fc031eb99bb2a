#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into .bench_build/perfbench/classes with the
Scala compiler that ships among the Spark jars, the same jars the repo's
build.sbt names as its unmanaged base. sbt is not used: its forked `run` prefixes every stdout
line with `[info] `, and a plain compiler call starts faster.

    python3 perfbench/build.py

A build is skipped when a stamp over every source file matches the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ("src/main/scala", "perfbench/src")


class BuildError(Exception):
    pass


def spark_jars(root: Path = ROOT) -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def source_files(root: Path = ROOT) -> list:
    files = []
    for d in SOURCES:
        base = root / d
        if not base.is_dir():
            raise BuildError(f"missing source directory {d}")
        files += sorted(str(p) for p in base.rglob("*.scala"))
    return files


def build(root: Path = ROOT) -> Path:
    """Compile if needed; returns the classes directory."""
    out = root / ".bench_build" / "perfbench"
    files = source_files(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(str(Path(f).resolve().relative_to(root.resolve())).encode())
        h.update(Path(f).read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(ROOT))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
