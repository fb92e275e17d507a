#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the benchmark's JVM program (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes`.

The build is skipped when the sources, the Spark jars and the JDK are
unchanged since the last one (a digest is kept beside the classes).

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
CLASSES = BUILD_DIR / "classes"
STAMP = BUILD_DIR / "classes.sha256"


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the library's own
    `unmanagedBase` from build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    return (sorted((ROOT / "src/main/scala").rglob("*.scala"))
            + sorted((ROOT / "perfbench/src").rglob("*.scala")))


def classpath():
    """Runtime classpath: compiled classes, library resources, Spark jars."""
    return os.pathsep.join([str(CLASSES), str(ROOT / "src/main/resources"),
                            str(spark_jars() / "*")])


def digest(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.encode())
    return h.hexdigest()


def ensure():
    """Compile if needed; returns the runtime classpath."""
    srcs = sources()
    if not srcs:
        raise SystemExit("perfbench: no Scala sources under src/main/scala")
    jars = spark_jars()
    want = digest(srcs, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", str(jars / "*")] + [str(p) for p in srcs]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {done.returncode})")
    STAMP.write_text(want)
    return classpath()


if __name__ == "__main__":
    print(ensure())
