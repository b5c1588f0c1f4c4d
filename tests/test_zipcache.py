"""palladian_spark.zipcache: ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed on disk."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from palladian_spark import zipcache

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="3.13 reads zip directories lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_first").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()   # first call records the stat key
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # a rewrite with another module changes the size: read again
        _write_zip(archive, {"zc_first": "X = 1\n",
                             "zc_second": "Y = 22222\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zc_second").Y == 22222
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        # a deleted archive cannot be stat'ed: the stock method runs on
        # every call and leaves the importer empty
        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importer._files == {}
    finally:
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.fixture
def unpatched(monkeypatch):
    """zipimporter as it was before install(); the package import's patch
    is back after the test.  Returns the stock method."""
    cls = zipimport.zipimporter
    stock = cls._unchecked_invalidate_caches
    monkeypatch.setattr(cls, "invalidate_caches", stock)
    monkeypatch.delattr(cls, "_unchecked_invalidate_caches")
    return stock


def test_install_is_a_no_op_on_3_13(unpatched, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is unpatched
    assert "_unchecked_invalidate_caches" not in vars(zipimport.zipimporter)


def test_install_is_idempotent(unpatched):
    cls = zipimport.zipimporter
    zipcache.install()
    patched = cls.invalidate_caches
    assert patched is not unpatched
    zipcache.install()
    assert cls.invalidate_caches is patched
    assert cls._unchecked_invalidate_caches is unpatched


def test_spark_worker_runs_the_patched_method(spark):
    """A Python task whose function refers to palladian_spark imports the
    package on the worker, which installs the patch and keys every zip
    importer the worker had cached."""
    from palladian_spark.operators.mentions import turn_stage
    from palladian_spark.session import local_frame

    def make_kernel():
        cls = zipimport.zipimporter
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, cls)]
        report = (cls.invalidate_caches.__module__ == zipcache.__name__,
                  len(zips),
                  sum(hasattr(f, "_seen_key") for f in zips))
        return lambda text: [report]

    turns = local_frame(spark, [("c", 0, "x")],
                        "conv_id string, turn_idx int, text string")
    rows = turn_stage(turns, "conv_id string, turn_idx int, patched boolean, "
                             "zips int, keyed int", make_kernel).collect()
    assert len(rows) == 1
    _, _, patched, zips, keyed = rows[0]
    assert patched
    assert zips > 0 and keyed == zips
