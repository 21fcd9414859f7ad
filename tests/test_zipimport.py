"""The stat-checked zipimporter.invalidate_caches that importing cognee_spark
installs: an unchanged archive keeps its cached directory across
invalidations, a replaced one is re-read on the next, and Spark's Python
workers run the installed version."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import cognee_spark  # noqa: F401  (installs the fix)

LAZY_STDLIB = sys.version_info >= (3, 13)  # install() is a no-op there


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"cs_zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("cs_zipmod_a", "cs_zipmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory from now on."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(LAZY_STDLIB, reason="the stdlib re-reads lazily on 3.13+")
def test_unchanged_archive_is_not_reread(archive, reads):
    assert importlib.import_module("cs_zipmod_a").X == 1
    importlib.invalidate_caches()  # this process's first read of the archive
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in reads


def test_replaced_archive_is_reread_and_new_module_imports(archive, reads):
    assert importlib.import_module("cs_zipmod_a").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"cs_zipmod_a": "X = 1\n", "cs_zipmod_b": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    if not LAZY_STDLIB:
        assert reads.count(archive) == 1
    assert importlib.import_module("cs_zipmod_b").Y == 2


def test_workers_run_the_installed_invalidate_caches(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        from cognee_spark import _zipimport as installed

        for _ in batches:
            pass
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        importlib.invalidate_caches()  # reads whatever this worker has not yet
        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: seen.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame(
            {
                "live": [zipimport.zipimporter.invalidate_caches is installed._invalidate_caches],
                "archives": [len(archives)],
                "rereads": [len(seen)],
            }
        )

    got = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(probe, "live boolean, archives long, rereads long")
        .collect()
    )
    assert len(got) == 8
    assert all(r.live is (not LAZY_STDLIB) for r in got)
    # the workers import pyspark and cognee_spark from zip archives: the fix
    # has something to do there, and an unchanged archive is never re-read
    assert all(r.archives >= 1 for r in got)
    if not LAZY_STDLIB:
        assert all(r.rereads == 0 for r in got)

