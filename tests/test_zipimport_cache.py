"""The stamp-checked zip directory cache (gmail_bigquery_etl_spark/
_zipimport_cache.py): ``importlib.invalidate_caches()`` re-reads an
archive on the import path only when the archive changed. No Spark."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import gmail_bigquery_etl_spark

MOD_A, MOD_B = "zipcache_probe_a", "zipcache_probe_b"


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``a`` at the head of ``sys.path``, ``a``
    imported from it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, [MOD_A])
    monkeypatch.syspath_prepend(path)
    importlib.import_module(MOD_A)
    yield path
    for name in (MOD_A, MOD_B):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(archive, monkeypatch):
    """Every ``zipimport._read_directory`` call on ``archive``."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    # The first invalidation after the import stamps the archive; it may
    # read it once, as the stdlib method would.
    importlib.invalidate_caches()
    assert len(reads) <= 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module(MOD_A).NAME == MOD_A


def test_changed_archive_is_reread_once(archive, reads):
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, [MOD_A, MOD_B])
    importlib.invalidate_caches()
    assert importlib.import_module(MOD_B).NAME == MOD_B
    assert len(reads) == 1
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_python_313_keeps_stdlib_method(monkeypatch):
    def stdlib(self):
        raise AssertionError("not called")

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    gmail_bigquery_etl_spark._zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
