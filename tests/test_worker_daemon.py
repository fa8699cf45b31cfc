"""worker_daemon: the Python worker's import path holds no redundant archives."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

from fintrack_etl_spark import session
from fintrack_etl_spark.worker_daemon import prune

ROOT = Path(__file__).resolve().parent.parent
VERSION = b"__version__: str = '9.9.9'\n"


def _zip(path: Path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _pyspark_dir(path: Path, version: bytes) -> str:
    (path / "pyspark").mkdir(parents=True)
    (path / "pyspark" / "__init__.py").write_text("")
    (path / "pyspark" / "version.py").write_bytes(version)
    return str(path)


def test_prune_keeps_zip_unless_next_pyspark_is_same_version_dir(tmp_path):
    pyzip = _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    other = _pyspark_dir(tmp_path / "other", b"__version__: str = '1.0.0'\n")
    same = _pyspark_dir(tmp_path / "same", VERSION)
    plain = str(tmp_path)  # no pyspark here: the search goes on past it

    for path, dropped in (
        ([pyzip, plain, other, same], []),  # the next pyspark differs
        ([pyzip, plain], []),  # no directory holds pyspark at all
        ([pyzip, plain, same, other], [pyzip]),
    ):
        before = list(path)
        assert prune(path, {}) == dropped
        assert path == [e for e in before if e not in dropped]


def test_prune_drops_pythonless_jars_and_their_importers(tmp_path):
    classes = _zip(tmp_path / "core.jar", {"org/A.class": b"", "org/B.class": b""})
    with_py = _zip(tmp_path / "udf.jar", {"org/A.class": b"", "helper.py": b""})
    pyzip = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": VERSION})
    same = _pyspark_dir(tmp_path / "same", VERSION)
    path = [classes, pyzip, with_py, same]
    cache = {
        classes: object(),
        os.path.join(classes, "org"): object(),
        pyzip: object(),
        os.path.join(pyzip, "pyspark", "sql"): object(),
        with_py: object(),
        classes + "x": object(),  # a shared prefix is not a sub-path
        same: object(),
    }
    assert prune(path, cache) == [classes, pyzip]
    assert path == [with_py, same]
    assert sorted(cache) == sorted([with_py, classes + "x", same])


def test_worker_imports_pyspark_from_a_directory(spark):
    def _worker_imports(batches):  # nested: pickled by value, not by this module's name
        import pyspark

        for _ in batches:
            pass
        archives = [
            v.archive
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"file": [pyspark.__file__], "archives": [archives]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_worker_imports, "file string, archives array<string>")
        .first()
    )
    assert not any(p.endswith((".zip", ".jar")) for p in Path(row.file).parts), row.file
    redundant = [a for a in row.archives if a.endswith(("pyspark.zip", ".jar"))]
    assert redundant == [], row.archives


def test_package_import_loads_no_pyspark():
    code = (
        "import sys, fintrack_etl_spark, fintrack_etl_spark.worker_daemon; "
        "print([m for m in sys.modules if m.startswith('pyspark')])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_daemon_only_where_workers_import_the_package(tmp_path, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(ROOT)
    assert session._workers_import_package()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), str(ROOT)]))
    assert session._workers_import_package()
