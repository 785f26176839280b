"""Python-worker daemon for local sessions (``spark.python.daemon.module``).

Spark puts its own archives first on every Python worker's path:
``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-<ver>-src.zip`` and the
spark-core jar. Each task's ``setup_spark_files`` then calls
``importlib.invalidate_caches()``, which re-reads the central directory
of every zip importer in ``sys.path_importer_cache`` — one per package
directory of the 1,300-file pyspark archive. That cost 0.20–0.33 CPU-s
per task before the UDF body ran.

When the same pyspark and py4j are installed unpacked further down the
path, this module drops the archives before pyspark is imported, then
runs pyspark's own daemon. Workers fork from it, so they load pyspark
from the unpacked install (and its ``__pycache__``) and a task has no
archive to re-read. If the versions differ, or either package is not
installed unpacked, the path is left as it is.

This module must not import pyspark at module level: the trim has to
happen before pyspark is first imported.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_PY4J_ZIP = re.compile(r"^py4j-(.+)-src\.zip$")
_SPARK_CORE_JAR = re.compile(r"^spark-core_.+\.jar$")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_package(entry: str) -> tuple[str, str | None] | None:
    """(package, version) carried by a Spark archive path entry, None
    for any other entry. The version is None when it cannot be read."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        try:
            with zipfile.ZipFile(entry) as zf:
                return "pyspark", _version(zf.read("pyspark/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            return "pyspark", None
    m = _PY4J_ZIP.match(name)
    return ("py4j", m.group(1)) if m else None


def _unpacked_version(package: str, path: list[str]) -> str | None:
    """Version of ``package`` as an unpacked directory found first on
    ``path``; None if it is missing, or an archive on ``path`` would
    supply it first."""
    for entry in path:
        base = entry or os.getcwd()
        if os.path.isdir(base):
            pkg = os.path.join(base, package)
            if os.path.isfile(os.path.join(pkg, "__init__.py")):
                try:
                    with open(os.path.join(pkg, "version.py"), encoding="utf-8") as f:
                        return _version(f.read())
                except OSError:
                    return None
        elif zipfile.is_zipfile(base):
            with zipfile.ZipFile(base) as zf:
                if f"{package}/__init__.py" in zf.namelist():
                    return None
    return None


def trim_spark_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Drop Spark's archives from ``path`` and ``importer_cache`` in place
    when every archived package is installed unpacked, with the same
    version, elsewhere on ``path``. Returns the dropped entries ([] when
    nothing changed)."""
    archives, packages = [], []
    for entry in path:
        if not os.path.isfile(entry):
            continue
        pkg = _archive_package(entry)
        if pkg is not None:
            packages.append(pkg)
        if pkg is not None or _SPARK_CORE_JAR.match(os.path.basename(entry)):
            archives.append(entry)
    if not packages:
        return []
    rest = [e for e in path if e not in archives]
    if any(
        version is None or _unpacked_version(name, rest) != version
        for name, version in packages
    ):
        return []
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return archives


if __name__ == "__main__":
    trim_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
