"""Build the engine's JVM jar from its sources: `javac --release 17`
against pyspark's bundled jars, then `jar`.

The jar (`ozone_spark/jvm/ozone-spark-fs.jar`, see `session.FS_JAR`)
is committed, so running the engine needs no JDK; rebuild it after
editing a source under `ozone_spark/jvm/src/`.

Usage: python tools/build_jvm.py [out.jar]   (default: the committed jar)
"""
from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "ozone_spark", "jvm", "src")
JAR = os.path.join(ROOT, "ozone_spark", "jvm", "ozone-spark-fs.jar")


def build(out: str = JAR) -> str:
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(glob.glob(os.path.join(SRC, "**", "*.java"),
                               recursive=True))
    with tempfile.TemporaryDirectory(prefix="ozs_jvm_") as classes:
        subprocess.run(["javac", "--release", "17", "-nowarn", "-cp",
                        classpath, "-d", classes, *sources], check=True)
        subprocess.run(["jar", "--create", "--file", os.path.abspath(out),
                        "-C", classes, "."], check=True)
    return out


if __name__ == "__main__":
    print(build(*sys.argv[1:2]))
