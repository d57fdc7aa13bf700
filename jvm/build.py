"""Build jvm/localfs.jar from jvm/statsspark/fs/NoSpawnLocalFileSystem.java.

The jar is committed, so sessions never compile at start-up; rebuild it
whenever the .java file changes.  The manifest's ``Source-SHA256`` is the
source's sha256, which tests/test_localfs.py checks against the .java
file, and ``Javac`` names the compiler that built the classes.  Entries
are sorted with fixed timestamps, so a rebuild with the same javac gives
the same bytes.

Needs a JDK (javac) and pyspark's bundled hadoop-client-api jar.

Usage: python jvm/build.py [dest_jar]
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "statsspark", "fs", "NoSpawnLocalFileSystem.java")
JAR = os.path.join(HERE, "localfs.jar")
CLASS = "statsspark.fs.NoSpawnLocalFileSystem"


def source_sha256() -> str:
    with open(SOURCE, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars",
                                  "hadoop-client-api-*.jar"))
    if not jars:
        raise FileNotFoundError("no hadoop-client-api jar in pyspark/jars")
    return jars[0]


def javac_version() -> str:
    r = subprocess.run(["javac", "-version"], capture_output=True,
                       text=True, check=True)
    return (r.stdout or r.stderr).strip()


def build(dest: str = JAR) -> str:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(["javac", "--release", "17", "-cp", hadoop_api_jar(),
                        "-d", classes, SOURCE], check=True)
        entries = {"META-INF/MANIFEST.MF": (
            "Manifest-Version: 1.0\r\n"
            f"Source-SHA256: {source_sha256()}\r\n"
            f"Javac: {javac_version()}\r\n\r\n").encode()}
        for full in glob.glob(os.path.join(classes, "**", "*.class"),
                              recursive=True):
            with open(full, "rb") as f:
                entries[os.path.relpath(full, classes)] = f.read()
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for arc in sorted(entries):
            info = zipfile.ZipInfo(arc, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, entries[arc])
    return dest


if __name__ == "__main__":
    print(build(*sys.argv[1:2]))
