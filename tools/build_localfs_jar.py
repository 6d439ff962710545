#!/usr/bin/env python
"""Rebuild the engine's local-filesystem jar from its Java source.

``mqtt_message_pump_spark/jvm/NioLocalFileSystem.java`` compiles against
the ``hadoop-client-api`` jar bundled with the installed PySpark, with
``javac --release 17``, into ``mqtt_message_pump_spark/jvm/localfs.jar``
(or the path given).  Entries carry a fixed timestamp, so the same source
and compiler give the same jar.

Usage:  python tools/build_localfs_jar.py [out.jar]
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "mqtt_message_pump_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "localfs.jar")
ENTRY_DATE = "2026-01-01T00:00:00Z"


def hadoop_api_jar() -> str:
    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars",
                     "hadoop-client-api-*.jar")
    )
    if len(jars) != 1:
        raise SystemExit(f"expected one hadoop-client-api jar, found {jars}")
    return jars[0]


def build(out: str = JAR) -> str:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-Xlint:all", "-Werror",
             "-cp", hadoop_api_jar(), "-d", classes, SOURCE],
            check=True,
        )
        if os.path.exists(out):
            os.remove(out)
        subprocess.run(
            ["jar", "--create", "--date", ENTRY_DATE, "--file", out,
             "-C", classes, "."],
            check=True,
        )
    return out


if __name__ == "__main__":
    print(build(*sys.argv[1:2]))
