"""Self-distribution of this package to Python workers, and the
per-task import cost those workers would otherwise pay.

Any operator whose pandas UDF / mapInPandas closure references a module
in this package needs the package importable on the executor side. On a
cluster that's ``spark-submit --py-files``; in a harness that built its
own SparkSession (possibly with a cwd outside the repo), we zip the
package once and ``addPyFile`` it — the worker-side equivalent of
--py-files, applied lazily per SparkContext. The zip is removed when the
interpreter exits.

Every Spark task that runs Python starts with PySpark's
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), so that files added through ``addFile`` /
``addPyFile`` become importable. Before CPython 3.13 that call makes
every ``zipimport.zipimporter`` re-read its whole archive directory: a
warm worker holds 13 importers over ``pyspark.zip`` (1,328 entries) and
2 over the spark-core jar (5,359 entries), ~0.17 CPU-s per task
whatever the rows. The package ``__init__`` calls
``install_zip_invalidation_check``, so a worker stops paying it once it
has unpickled any of the package's UDFs.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_added_contexts: set[int] = set()

# marks the installed method, so a reload of this module installs nothing
_STAT_CHECKED = "_clinical_trials_etl_spark_stat_checked"


def install_zip_invalidation_check() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` changed since it was last read
    (by any importer over it), as CPython 3.13 made the invalidation lazy;
    a missing, unreadable or changed archive goes to the stock method.
    ``FileFinder`` invalidation is untouched, so files added through
    ``addFile`` / ``addPyFile`` still become importable. A rewrite that
    keeps the inode and the size within one mtime tick goes unseen, the
    granularity ``FileFinder`` accepts too. Idempotent."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, _STAT_CHECKED, False):
        return
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and read_at.get(self.archive) == stamp):
            self._files = files
            return
        stock(self)
        # the stock method caches the directory on success and drops it
        # on failure; stamp only what it read
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    setattr(invalidate_caches, _STAT_CHECKED, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _added_contexts:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if not os.path.isdir(pkg_dir):
        # package imported from a zip (spark-submit --py-files): the
        # submit machinery already shipped that zip to every executor,
        # so there is nothing to re-zip — and os.walk over a zip path
        # would silently produce an empty archive
        _added_contexts.add(key)
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"clinical_trials_etl_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    # the context serves the file to its executors for as long as it
    # lives, which can be until the interpreter exits
    atexit.register(_remove, zpath)
    sc.addPyFile(zpath)
    _added_contexts.add(key)
