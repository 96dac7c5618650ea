"""PySpark's Python worker daemon, with zip import caches that last
across tasks.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to Python 3.12 that makes
each ``zipimporter`` re-read the whole directory of its archive at once.
A worker holds about 16 of them over ``$SPARK_HOME/python/lib/pyspark.zip``
(one per package path it imported from it): ~200 ms of CPU before a task
sees its first row, on a 4-core VM. Python 3.13 made the call lazy.

Run as ``python -m terraform_aws_lambda_kinesis_to_s3_spark.worker_daemon``
(``spark.python.daemon.module``, which ``session.get_spark`` sets for local
masters on Python < 3.13), this module has each read of an archive's
directory record the archive's stat (:func:`_read_directory`), and
replaces ``zipimport.zipimporter.invalidate_caches`` with
:func:`invalidate_caches`, which re-reads only an archive whose stat
changed. It then runs ``pyspark.daemon`` as ``__main__``: the daemon's
imports from ``pyspark.zip`` are recorded before it forks, so its workers
read no archive directory again. Importing the module changes nothing.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_stock_read_directory = zipimport._read_directory
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> its (inode, size, mtime_ns) just before its last read
_read_as: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _read_directory(archive: str) -> dict:
    """``zipimport._read_directory``, recording the archive's stat first:
    a change made during the read shows at the next invalidation."""
    key = _stat_key(archive)
    files = _stock_read_directory(archive)
    _read_as[archive] = key
    return files


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only when the archive changed on
    disk since this process last read it; otherwise take the directory
    already cached for it."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and key == _read_as.get(self.archive) and files is not None:
        self._files = files
    else:
        _stock_invalidate_caches(self)


if __name__ == "__main__":
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
