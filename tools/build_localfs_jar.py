"""Rebuild dasladen_spark/jvm/dasladen-localfs.jar from its Java sources.

The jar holds the fork-free local file system that ``session.get_spark``
puts on the driver class path (see dasladen_spark/session.py). It is
compiled with ``javac --release 17`` against PySpark's own jars and
written with fixed entry times and order, so the same javac yields the
same bytes. The javac version goes into the manifest's ``Created-By``.

Usage: python tools/build_localfs_jar.py
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "dasladen_spark", "jvm")
JAR = os.path.join(JVM_DIR, "dasladen-localfs.jar")
_EPOCH = (1980, 1, 1, 0, 0, 0)


def javac_version() -> str:
    """``javac -version`` output, e.g. ``javac 17.0.20``."""
    out = subprocess.run(
        ["javac", "-version"], capture_output=True, text=True, check=True
    )
    return (out.stdout or out.stderr).strip()


def compile_classes() -> dict[str, bytes]:
    """Compile the sources; returns {jar entry name: class bytes}."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "dasladen", "**", "*.java"), recursive=True))
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", jars, "-d", out, *sources],
            check=True,
        )
        classes = {}
        for path in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            with open(path, "rb") as fh:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = fh.read()
    return classes


def write_jar(path: str, classes: dict[str, bytes], created_by: str) -> None:
    manifest = f"Manifest-Version: 1.0\r\nCreated-By: {created_by}\r\n\r\n"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as jar:
        for name, data in [("META-INF/MANIFEST.MF", manifest.encode())] + sorted(
            classes.items()
        ):
            info = zipfile.ZipInfo(name, _EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            jar.writestr(info, data)


def main() -> int:
    write_jar(JAR, compile_classes(), javac_version())
    print(JAR)
    return 0


if __name__ == "__main__":
    sys.exit(main())
