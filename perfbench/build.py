#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/harness) into .bench_build/perfbench/classes.

It calls the Scala compiler that ships in the Spark distribution directly,
without sbt, and rebuilds only when a source file changed. The Spark
distribution is found through SPARK_HOME, or else through the
`unmanagedBase` line of the repository's build.sbt; the JVM's
`--add-opens` flags come from build.sbt's `jdk17AddOpens`, so the two
settings live in build.sbt alone.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def build_sbt() -> str:
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} missing")
    return sbt.read_text()


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark distribution: set SPARK_HOME")


def add_opens() -> list:
    """The `--add-opens` flags Spark needs on JDK 17, as build.sbt's
    `jdk17AddOpens` lists them."""
    m = re.search(r'val\s+jdk17AddOpens\s*=\s*Seq\((.*?)\)', build_sbt(), re.S)
    if not m:
        raise BuildError("build.sbt has no jdk17AddOpens")
    return [x for mod in re.findall(r'"([^"]+)"', m.group(1))
            for x in ("--add-opens", f"{mod}=ALL-UNNAMED")]


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(spark_jars() / "*")])


def build() -> str:
    """Compiles if needed and returns the run-time classpath."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classpath()
    BUILD.mkdir(parents=True, exist_ok=True)
    jars = str(spark_jars() / "*")
    tmp = Path(tempfile.mkdtemp(prefix="classes-", dir=BUILD))
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
