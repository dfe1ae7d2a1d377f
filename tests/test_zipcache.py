"""The stat-checked zipimporter.invalidate_caches installed by the package:
an unchanged archive is not re-read, a rewritten one is, and a deleted one
behaves as the stock method does.  No Spark here; see
test_spark_pipeline_edge.py for the worker-side check."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from closure_html_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module `zc_a`, plus a counter of
    _read_directory calls on that archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    for name in ("zc_a", "zc_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_installed_by_package_import():
    assert zipimport.zipimporter.invalidate_caches is \
        zipcache.invalidate_caches


def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    assert importlib.import_module("zc_a").X == 1
    importlib.invalidate_caches()  # first call stamps the archive
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.reload(sys.modules["zc_a"]).X == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.import_module("zc_a")
    importlib.invalidate_caches()
    _write_zip(path, {"zc_a": "X = 2222\n", "zc_b": "Y = 3\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zc_b").Y == 3
    assert importlib.reload(sys.modules["zc_a"]).X == 2222


def test_deleted_archive_matches_stock(archive):
    path, _ = archive
    importlib.import_module("zc_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()  # raises nothing
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    # an archive that comes back is read again
    _write_zip(path, {"zc_b": "Y = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_b").Y == 4
