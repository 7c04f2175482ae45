"""The get_spark Python-worker daemon: zip archives are re-read on
``importlib.invalidate_caches()`` only when they changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from dataset_grouper_spark import session, worker_daemon

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 invalidates zip caches lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pre_313
def test_unchanged_archive_not_reread_and_rewrite_reloads(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd_probe.zip")
    _write_zip(
        archive,
        {"wd_pkg/__init__.py": "", "wd_pkg/a.py": "X = 1\n"},
    )
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.stat_checked(zipimport.zipimporter.invalidate_caches),
    )
    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    sys.path.insert(0, archive)
    try:
        from wd_pkg import a

        assert a.X == 1
        # two importers on one archive: the root and wd_pkg/
        importers = [
            k for k in sys.path_importer_cache if k.startswith(archive)
        ]
        assert len(importers) == 2
        importlib.invalidate_caches()  # first sight: re-read, keyed
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(
            archive,
            {
                "wd_pkg/__init__.py": "",
                "wd_pkg/a.py": "X = 1\n",
                "wd_pkg/b.py": "Y = 2\n",
            },
        )
        importlib.invalidate_caches()
        # one read serves both importers
        assert reads.count(archive) == 1
        from wd_pkg import b

        assert b.Y == 2
    finally:
        sys.path.remove(archive)
        for k in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[k]
        zipimport._zip_directory_cache.pop(archive, None)
        for m in ("wd_pkg", "wd_pkg.a", "wd_pkg.b"):
            sys.modules.pop(m, None)


def test_worker_runs_under_library_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    rows = spark.range(64).repartition(2).mapInPandas(probe, "m string").collect()
    expected = (
        "dataset_grouper_spark.worker_daemon"
        if sys.version_info < (3, 13)
        else "zipimport"
    )
    assert {r.m for r in rows} == {expected}


def test_extra_conf_overrides_daemon_default(monkeypatch):
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    key = "spark.python.daemon.module"
    assert session.get_spark()[key] == "dataset_grouper_spark.worker_daemon"
    opts = session.get_spark(extra_conf={key: "pyspark.daemon"})
    assert opts[key] == "pyspark.daemon"
