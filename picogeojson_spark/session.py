"""SparkSession helpers + self-shipping packaging.

``get_spark`` builds a session with the engine's recommended conf; on a real
cluster the package ships via ``spark-submit --py-files picogeojson_spark.zip``
(see ``build_pyfiles_zip``); ``ensure_shipped`` is the programmatic
equivalent (``sc.addPyFile``) for sessions created without it — it closes
the "works in the repo checkout, fails on executors" gap.
``install_zip_invalidation_guard`` removes the per-task cost of the zips a
Python worker imports from (``pyspark.zip``, py4j, jars, this package's own
shipped zip).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
import zipfile

_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))


def install_zip_invalidation_guard() -> bool:
    """Skip zip re-reads that cannot change what an import finds.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and before CPython 3.13 each ``zipimporter`` on ``sys.path`` then
    re-reads its archive's whole central directory (``pyspark.zip`` alone
    has about a dozen importers). The guard re-reads an archive only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken before
    its last read, or when the stat fails; otherwise the importer gets that
    read's directory back. A rewritten or deleted archive is re-read as
    before. Every archive gets its stat key when the guard first sees it:
    the path importers that exist at install, and each importer created
    later for an archive not seen yet, read it once more right away, so the
    next task's set-up reads nothing.

    Installed once per process (idempotent). Returns whether the guard is
    installed; always False on 3.13+, whose invalidation is already lazy.
    """
    if sys.version_info >= (3, 13):
        return False
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    stock = cls.invalidate_caches
    # archive path -> (stat key taken just before its last directory read,
    # the directory that read returned)
    last_reads = {}

    @functools.wraps(stock)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            last_reads.pop(archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        last = last_reads.get(archive)
        if last is not None and last[0] == key:
            self._files = last[1]
            zipimport._zip_directory_cache[archive] = last[1]
            return
        stock(self)
        if zipimport._zip_directory_cache.get(archive) is self._files:
            last_reads[archive] = (key, self._files)
        else:  # unreadable archive: the stock method emptied it
            last_reads.pop(archive, None)

    stock_init = cls.__init__

    @functools.wraps(stock_init)
    def __init__(self, path):
        stock_init(self, path)
        if self.archive not in last_reads:
            invalidate_caches(self)

    cls.invalidate_caches = invalidate_caches
    cls.__init__ = __init__
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            invalidate_caches(importer)
    return True


def build_pyfiles_zip(out_path: str = None) -> str:
    """Zip the package for ``spark-submit --py-files``. Returns the path.

    Without ``out_path`` the zip goes to a new private temp directory, so
    processes (from one checkout or several) never write the same file."""
    if out_path is None:
        out_path = os.path.join(tempfile.mkdtemp(prefix="picogeojson_spark-"),
                                "picogeojson_spark.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(_PKG_ROOT):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "picogeojson_spark", os.path.relpath(full, _PKG_ROOT)
                )
                zf.write(full, rel)
    return out_path


@functools.lru_cache(maxsize=None)
def shipped_zip_path() -> str:
    """This process's package zip: built on the first call, then reused
    (``addPyFile`` of one path twice is a no-op); removed at exit. A
    process killed by a signal (a terminated pool worker) leaves it."""
    path = build_pyfiles_zip()
    atexit.register(shutil.rmtree, os.path.dirname(path), ignore_errors=True)
    return path


def ensure_shipped(spark) -> None:
    """Make the package importable on executors regardless of deploy mode."""
    spark.sparkContext.addPyFile(shipped_zip_path())


def get_spark(
    app_name: str = "picogeojson-spark",
    master: str = None,
    shuffle_partitions: int = None,
    extra_conf: dict = None,
):
    """Opinionated session builder.

    Defaults: AQE on (runtime re-plan + skew-join), Arrow enabled for pandas
    UDF transport, shuffle partitions sized to the parallelism. ``master``
    defaults to the environment (spark-submit / existing session); pass
    ``local[N]`` for standalone runs.
    """
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # AQE's partition coalescing optimizes shuffle IO, not CPU: with the
        # default 1 MiB floor it squeezed CPU-heavy Arrow-UDF stages (exact
        # cosine scoring over candidate pairs) onto ~5 tasks because the
        # DATA is only a few MB while the COMPUTE is seconds per MB. A 64 KiB
        # floor keeps parallelismFirst honest for small-but-hot stages; at
        # production scale post-shuffle partitions are far above either
        # floor, so this changes nothing there.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_shipped(spark)
    return spark
