"""Python worker daemon: ``pyspark.daemon`` without the per-task zip
directory re-reads.

Before each task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and a worker holds one zipimporter per package prefix
of every zip on its path: ``pyspark.zip`` under a dozen prefixes, the
py4j zip and the ``spark-core`` jar that ``PythonUtils.sparkPythonPath``
puts there, thousands of entries in all. On a 4-core host a trivial
4-task ``mapInArrow`` job takes ≈0.55 s with the re-reads and ≈0.25 s
without them.

:func:`install` makes the re-read conditional: an archive is read again
only when its ``(st_mtime_ns, st_size)`` differs from when its directory
was last read, so a changed archive is still picked up. CPython 3.13
made ``invalidate_caches`` lazy (it only drops the cache entry), and
there :func:`install` changes nothing.

:func:`.session.get_spark` names this module in
``spark.python.daemon.module``; run as ``python -m`` it installs the
patch, then runs ``pyspark.daemon`` unchanged with the same ``sys.argv``
(the worker module name Spark passes in ``argv[1]``), so every worker the
daemon forks inherits the patch.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Patch ``zipimport`` in this process; returns whether it did.
    Directories already read are taken as read now, which holds for a
    daemon that installs the patch as it starts."""
    if sys.version_info >= (3, 13):
        return False
    cache = zipimport._zip_directory_cache
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)  # before the read: a racing write re-reads later
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)

    for archive in cache:
        _stamps[archive] = _stamp(archive)
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
