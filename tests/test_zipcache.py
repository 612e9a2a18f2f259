"""Lazy zip-directory invalidation (``_zipcache``): an unchanged archive
is not re-read by ``importlib.invalidate_caches()``, a rewritten one is,
``install()`` is idempotent, and the patch is live inside the Spark
Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from tesseract_ocr_service_spark import _zipcache


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """(zip path, module a inside it, module b not yet inside it)."""
    tag = uuid.uuid4().hex[:8]
    a, b = f"zc_a_{tag}", f"zc_b_{tag}"
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {a: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path, a, b
    for name in (a, b):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    calls = []
    original = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, reads):
    path, a, _ = archive
    assert importlib.import_module(a).VALUE == 1
    n = reads.count(path)
    importlib.invalidate_caches()  # importer created after install(): one read
    assert reads.count(path) == n + 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == n + 1


def test_rewritten_archive_is_reread(archive, reads):
    path, a, b = archive
    importlib.import_module(a)
    importlib.invalidate_caches()
    st = os.stat(path)
    _write_zip(path, {a: "VALUE = 1\n", b: "VALUE = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    n = reads.count(path)
    importlib.invalidate_caches()
    assert reads.count(path) == n + 1
    assert importlib.import_module(b).VALUE == 2


def test_missing_archive_goes_through_original(archive, reads):
    path, a, _ = archive
    importlib.import_module(a)
    importlib.invalidate_caches()
    os.remove(path)
    n = reads.count(path)
    importlib.invalidate_caches()  # stat fails -> the original empties it
    importlib.invalidate_caches()
    assert reads.count(path) == n + 2
    assert sys.path_importer_cache[path]._files == {}


def test_install_is_idempotent_and_stamps_cached_importers(
    archive, reads, monkeypatch
):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._original
    )
    path, a, _ = archive
    importlib.import_module(a)
    _zipcache.install()
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._lazy_invalidate
    assert _zipcache._original is not _zipcache._lazy_invalidate
    n = reads.count(path)
    importlib.invalidate_caches()  # stamped by install(): no re-read
    assert reads.count(path) == n


def test_lazy_invalidation_reaches_python_workers(spark):
    def probe(batches):
        """In a Python worker: is the lazy method installed, and how many
        archive reads does a repeated invalidation cost there?"""
        import importlib
        import zipimport

        from tesseract_ocr_service_spark import _zipcache

        importlib.invalidate_caches()  # stamps importers this task created
        calls = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or original(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        lazy = (
            zipimport.zipimporter.invalidate_caches
            is _zipcache._lazy_invalidate
        )
        for _ in batches:
            yield pd.DataFrame({"lazy": [lazy], "reads": [len(calls)]})

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(probe, "lazy boolean, reads int")
        .collect()
    )
    assert rows and all(r["lazy"] for r in rows)
    assert all(r["reads"] == 0 for r in rows)
