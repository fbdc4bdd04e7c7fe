"""The stat-guarded ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
before CPython 3.13 that re-reads the central directory of every zip on
``sys.path``. The guard (``session.install_zip_invalidation_guard``, run when
the package is imported) skips the re-read of an archive whose stat is
unchanged since its last read. These tests pin that it reads nothing for an
unchanged archive and still re-reads a rewritten or deleted one exactly as
the stock method does.
"""

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pytest

import picogeojson_spark
from picogeojson_spark.session import install_zip_invalidation_guard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zips lazily; no guard"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(name + ".py", "VALUE = {!r}\n".format(value))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zg_one``, imported through an
    importer created after the guard was installed. Yields
    ``(path, importer)``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zg_one": 1})
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zg_one").VALUE == 1
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    yield path, importer
    sys.path_importer_cache.pop(path, None)
    for name in [m for m in sys.modules if m.startswith("zg_")]:
        del sys.modules[name]


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from now on."""
    seen = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_guard_installed_by_package_import():
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert install_zip_invalidation_guard() is True


def test_unchanged_archive_is_not_reread(archive, reads):
    """Also for an importer created after install (a zip that joins the
    path mid-session, as ``addPyFile`` does)."""
    path, importer = archive
    importlib.invalidate_caches()
    assert path not in reads
    zipimport.zipimporter(path + os.sep + "sub").invalidate_caches()
    assert path not in reads
    assert importer.find_spec("zg_one") is not None
    # the stock method would have read it: the count is not vacuous
    zipimport.zipimporter.invalidate_caches.__wrapped__(importer)
    assert reads == [path]


@pytest.mark.parametrize("change", ["size", "mtime", "inode"])
def test_rewritten_archive_is_reread(archive, reads, tmp_path, change):
    """Each part of the stat key alone forces the re-read."""
    path, _importer = archive
    old = os.stat(path)
    if change == "inode":  # same size and mtime, a new file moved over it
        other = str(tmp_path / "other.zip")
        _write_zip(other, {"zg_two": 2})
        os.replace(other, path)
    else:  # rewritten in place: one more module, or the same size
        _write_zip(path, {"zg_one": 1, "zg_two": 2} if change == "size"
                   else {"zg_two": 2})
    mtime_ns = old.st_mtime_ns + (change == "mtime")
    os.utime(path, ns=(old.st_atime_ns, mtime_ns))
    new = os.stat(path)
    changed = {name for name, a, b in [
        ("mtime", old.st_mtime_ns, new.st_mtime_ns),
        ("size", old.st_size, new.st_size),
        ("inode", old.st_ino, new.st_ino)] if a != b}
    assert changed == {change}

    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zg_two").VALUE == 2
    importlib.invalidate_caches()  # the new stat is now the read's key
    assert reads == [path]


def test_deleted_archive_matches_stock(archive):
    path, guarded = archive
    stock = zipimport.zipimporter(path)
    os.remove(path)

    guarded.invalidate_caches()
    assert guarded._files == {}
    assert path not in zipimport._zip_directory_cache
    zipimport.zipimporter.invalidate_caches.__wrapped__(stock)
    assert stock._files == {}
    assert guarded.find_spec("zg_one") is None
    assert stock.find_spec("zg_one") is None

    # the archive comes back: the failed stat left no key to match
    _write_zip(path, {"zg_one": 1})
    guarded.invalidate_caches()
    assert guarded.find_spec("zg_one") is not None


def test_install_twice_wraps_once(monkeypatch):
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches.__wrapped__, cls.__init__.__wrapped__
    monkeypatch.setattr(cls, "invalidate_caches", stock[0])
    monkeypatch.setattr(cls, "__init__", stock[1])
    assert install_zip_invalidation_guard() is True
    guarded = cls.invalidate_caches, cls.__init__
    assert (guarded[0].__wrapped__, guarded[1].__wrapped__) == stock
    assert install_zip_invalidation_guard() is True
    assert (cls.invalidate_caches, cls.__init__) == guarded


def test_noop_on_lazy_python(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert install_zip_invalidation_guard() is False
    assert zipimport.zipimporter.invalidate_caches is stock


def test_reused_worker_setup_reads_no_zip_directory(spark):
    """A reused Python worker's task set-up reads no zip directory.

    Each task counts ``_read_directory`` calls in its worker and remembers
    the count at its end; the next task in the same worker reports the reads
    made in between, i.e. by its own set-up (``importlib.invalidate_caches``)
    and UDF unpickling. Single-task jobs run until a worker is reused, since
    the session's idle-worker pool may hand out other workers first.
    """

    def probe(batches):
        import json

        import pandas as pd

        z = zipimport
        if not hasattr(z, "_zg_reads"):
            z._zg_reads = []
            real = z._read_directory

            def counting(path):
                z._zg_reads.append(path)
                return real(path)

            z._read_directory = counting
        last = getattr(z, "_zg_reads_at_end", None)
        setup_reads = None if last is None else z._zg_reads[last:]
        for _ in batches:
            pass
        z._zg_reads_at_end = len(z._zg_reads)
        yield pd.DataFrame({
            "pid": [os.getpid()],
            # the UDF refers to the package, so unpickling it imports it
            "guard": [picogeojson_spark.__name__ == "picogeojson_spark"
                      and hasattr(z.zipimporter.invalidate_caches, "__wrapped__")],
            "setup_reads": [json.dumps(setup_reads)],
        })

    one = spark.range(1, numPartitions=1)
    rows = []
    for _ in range(16):
        rows.append(one.mapInPandas(
            probe, "pid long, guard boolean, setup_reads string").collect()[0])
        if json.loads(rows[-1].setup_reads) is not None:
            break
    reused = [json.loads(r.setup_reads) for r in rows]
    reused = [r for r in reused if r is not None]
    assert reused, rows
    assert all(r.guard for r in rows), rows
    assert reused == [[]] * len(reused), rows
