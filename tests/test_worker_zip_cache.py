"""The worker-only zip import cache guard in ``rtfproc_spark/__init__.py``.

The unit tests need no Spark: they fake ``pyspark.worker`` in
``sys.modules`` and restore ``zipimport.zipimporter.invalidate_caches``
after each test. The last test checks that the guard is live in real
daemon-forked PySpark workers.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

import rtfproc_spark

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimport re-reads lazily"
)


def _guarded():
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def worker(monkeypatch):
    """A process that looks like a daemon worker, with the stdlib method
    restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.__dict__["invalidate_caches"],
    )
    monkeypatch.setitem(sys.modules, "pyspark.worker", sys.modules.get("pyspark.worker"))
    return monkeypatch


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "zc.zip")
    _write_zip(archive, ["zc_a"])
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_a", "zc_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


@old_python
def test_unchanged_archive_is_not_reread(worker, zip_on_path):
    import zc_a

    assert zc_a.NAME == "zc_a"
    rtfproc_spark._install_zip_cache_guard()
    assert _guarded()
    importlib.invalidate_caches()  # first guarded call reads and records
    calls = _count_reads(worker)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []


@old_python
def test_rewritten_archive_is_reread(worker, zip_on_path):
    import zc_a  # noqa: F401

    rtfproc_spark._install_zip_cache_guard()
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["zc_a", "zc_b"])
    calls = _count_reads(worker)
    importlib.invalidate_caches()
    assert zip_on_path in calls
    import zc_b

    assert zc_b.NAME == "zc_b"


@old_python
def test_no_install_outside_a_worker(worker):
    worker.delitem(sys.modules, "pyspark.worker")
    rtfproc_spark._install_zip_cache_guard()
    assert not _guarded()


@old_python
def test_second_install_does_not_wrap_twice(worker):
    rtfproc_spark._install_zip_cache_guard()
    first = zipimport.zipimporter.invalidate_caches
    rtfproc_spark._install_zip_cache_guard()
    assert _guarded()
    assert zipimport.zipimporter.invalidate_caches is first


def test_no_install_on_python_313(worker):
    worker.setattr(sys, "version_info", (3, 13, 0))
    rtfproc_spark._install_zip_cache_guard()
    assert not _guarded()


@old_python
def test_guard_is_live_in_daemon_workers(spark):
    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def probe(batches):
        import zipimport

        import pandas as pd

        import rtfproc_spark  # noqa: F401

        live = getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
        for pdf in batches:
            yield pd.DataFrame({"guarded": [live] * len(pdf)})

    rows = (
        spark.range(8, numPartitions=4).mapInPandas(probe, "guarded boolean").collect()
    )
    assert len(rows) == 8
    assert all(r.guarded for r in rows)
