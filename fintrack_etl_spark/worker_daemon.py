"""Python worker daemon that keeps zip archives off the worker's import path.

``session.get_spark`` sets this module as ``spark.python.daemon.module``,
so the JVM starts ``python -m fintrack_etl_spark.worker_daemon
pyspark.worker`` where it would start ``pyspark.daemon``. The JVM puts
``$SPARK_HOME/python/lib/pyspark.zip`` and the ``spark-core`` jar first
on the worker's path, and PySpark calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py``). That call makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's directory. A ``mapInPandas`` worker held 12 over
``pyspark.zip`` (~10 ms each) and two over the 5,359-entry jar (~45 ms
each), which holds no Python at all: 140-190 ms of CPU per task on a
4-core host.

Before anything imports pyspark, this module drops from the path:

* an archive holding ``pyspark``, when the next ``pyspark`` on the path
  is a directory with the same ``pyspark/version.py`` (else the zip
  stays, so a mismatched install never shadows the JVM's own copy);
* any ``.jar`` that holds no ``.py`` file.

It then runs ``pyspark.daemon`` unchanged; ``sys.argv`` passes through,
because ``pyspark.daemon`` reads the worker module from ``sys.argv[1]``.

Stdlib only: nothing here, nor the package ``__init__`` that ``python -m``
runs first, may import pyspark before the prune.
"""

from __future__ import annotations

import os
import sys
import zipfile

_VERSION = "pyspark/version.py"


def _version(entry: str) -> bytes | None:
    """``pyspark/version.py`` under a path entry, zip or directory."""
    try:
        if os.path.isdir(entry):
            with open(os.path.join(entry, _VERSION), "rb") as f:
                return f.read()
        with zipfile.ZipFile(entry) as zf:
            return zf.read(_VERSION)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _redundant_zip(path: list[str], i: int) -> bool:
    """``path[i]`` is an archive holding pyspark, and the next pyspark on
    the path is a directory with the same version."""
    if os.path.isdir(path[i]) or (mine := _version(path[i])) is None:
        return False
    for entry in path[i + 1 :]:
        if (theirs := _version(entry or ".")) is not None:
            return os.path.isdir(entry or ".") and theirs == mine
    return False


def _pythonless_jar(entry: str) -> bool:
    if not entry.endswith(".jar"):
        return False
    try:
        with zipfile.ZipFile(entry) as zf:
            return not any(n.endswith(".py") for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def prune(path: list[str], importer_cache: dict) -> list[str]:
    """Drop redundant pyspark archives and Python-free jars from ``path``
    in place, and their importers (sub-paths included) from
    ``importer_cache``; returns the dropped entries."""
    dropped = [e for e in path if _pythonless_jar(e)]
    path[:] = [e for e in path if e not in dropped]
    dropped += [e for i, e in enumerate(path) if _redundant_zip(path, i)]
    path[:] = [e for e in path if e not in dropped]
    for key in list(importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del importer_cache[key]
    return dropped


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache)
    import pyspark.daemon

    pyspark.daemon.manager()
