"""Stat-keyed zipimporter.invalidate_caches (``gorilla_stream_spark._zipcache``):
unchanged archives are not re-read by ``importlib.invalidate_caches()``, a
rewritten archive still is, and reused Spark Python workers carry the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import gorilla_stream_spark  # noqa: F401  (installs the patch)
from gorilla_stream_spark import _zipcache

old_python = pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython < 3.12 only")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_path(tmp_path):
    """An archive holding module ``gss_zc_a``, first on ``sys.path``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"gss_zc_a": "X = 1\n"})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._read_keys.pop(path, None)
    for name in ("gss_zc_a", "gss_zc_b"):
        sys.modules.pop(name, None)


@old_python
def test_patch_installed_on_old_python():
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches


def test_rewritten_archive_is_reread(zip_path):
    path = zip_path
    assert importlib.import_module("gss_zc_a").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("gss_zc_b")
    st0 = os.stat(path)
    _write_zip(path, {"gss_zc_a": "X = 1\n", "gss_zc_b": "Y = 2\n"})
    # new mtime as well as new size, also on coarse-mtime filesystems
    os.utime(path, ns=(st0.st_atime_ns, st0.st_mtime_ns + 10**9))
    assert os.stat(path).st_size != st0.st_size
    importlib.invalidate_caches()
    assert importlib.import_module("gss_zc_b").Y == 2


@old_python
def test_unchanged_archive_is_not_reread(zip_path, monkeypatch):
    path = zip_path
    importlib.import_module("gss_zc_a")
    importlib.invalidate_caches()  # first pass records every archive's stat key
    assert path in _zipcache._read_keys
    calls = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: calls.append(a) or real(a))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    # the importer still resolves through the cached directory
    assert sys.path_importer_cache[path]._files is zipimport._zip_directory_cache[path]


def test_stdlib_method_untouched_on_new_python(monkeypatch):
    stdlib = _zipcache._stdlib_invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@pytest.mark.skipif(sys.version_info < (3, 12), reason="CPython >= 3.12 only")
def test_stdlib_method_untouched_here():
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stdlib_invalidate_caches


@old_python
def test_reused_worker_has_patch(spark):
    """A worker that ran a package kernel carries the patch into its next
    task, so that task's ``setup_spark_files`` went through it."""
    from gorilla_stream_spark import encode

    df = spark.createDataFrame(
        [(str(i), list(range(i, i + 50)), "s") for i in range(64)],
        "doc_id string, tokens array<int>, source string",
    )

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        zc = sys.modules.get("gorilla_stream_spark._zipcache")
        patched = zc is not None and zipimport.zipimporter.invalidate_caches is zc.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "loaded": [zc is not None], "patched": [patched]}
        )

    rows = []
    for _ in range(3):
        # first task: a package kernel; second: the probe, pickled by value so
        # unpickling it imports nothing from the package
        assert encode(df, num_partitions=4).count() > 0
        rows = spark.range(0, 4, numPartitions=4).mapInArrow(
            probe, "pid long, loaded boolean, patched boolean"
        ).collect()
        if any(r["loaded"] for r in rows):
            break
    assert any(r["loaded"] for r in rows), rows
    assert all(r["patched"] for r in rows if r["loaded"]), rows
