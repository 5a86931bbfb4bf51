"""Python-worker import hook: re-read a zip archive's directory only when
the archive changed.

Mechanism. For every task, pyspark's ``worker.main`` runs
``setup_spark_files``, which ends in ``importlib.invalidate_caches()``. That
calls ``invalidate_caches()`` on every finder in ``sys.path_importer_cache``.
Spark puts ``pyspark.zip``, ``py4j-*-src.zip`` and the ``spark-core`` jar at
the front of the worker ``PYTHONPATH``, so a worker imports pyspark from the
zip and holds one ``zipimporter`` per imported pyspark subpackage, plus one
for the jar and its ``org`` namespace package (found by ``copy.py``'s Jython
probe): 16 in the workers measured below. On Python 3.11, ``zipimporter.invalidate_caches()``
re-reads the whole archive directory in pure Python, so every task pays for
16 directory reads of archives that never change. Measured in a worker
(``local[4]``, 4-core x86, Python 3.11.7, Spark 4.1.2; medians):

  ==========================================  =====  ====================
  importers                                   count  one invalidate call
  ==========================================  =====  ====================
  ``pyspark.zip`` (root + 11 subpackages)     12     10.5 ms
  ``py4j-0.10.9.9-src.zip`` (root + py4j)     2      0.15 ms
  ``spark-core_2.13-4.1.2.jar`` (root + org)  2      44-49 ms
  ``importlib.invalidate_caches()``           16     0.22 s per task
  ==========================================  =====  ====================

``install`` replaces ``zipimport.zipimporter.invalidate_caches`` with a
stat-checked version. An archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken just before
its last read; otherwise the importer takes that read's directory and
returns at once. What Spark calls it for still holds: a new path entry gets
a new importer, and a rewritten archive is re-read. At install every
archive with a cached importer is read once, and so is a new archive at its
first call, so the stamps are exact; a worker pays that once, not per task.

The hook is installed when the package is imported inside a task
(``TaskContext.get()`` is set), which unpickling an engine UDF does when it
references a package module (a closure over numpy/pandas alone does not).
The driver process keeps the stdlib method. It relies on the 3.10-3.12
``zipimporter`` internals (``_files``, ``_zip_directory_cache``) and is not
installed on other versions.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp taken before the read, directory the read produced)
_read_at: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Stdlib ``invalidate_caches`` for a changed or unseen archive, a
    dictionary lookup for an unchanged one."""
    stamp = _stamp(self.archive)
    seen = _read_at.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _STDLIB_INVALIDATE(self)
    _read_at[self.archive] = (stamp, self._files)


def install() -> None:
    """Install the hook in this process if it is a Python worker running a
    task; a no-op on the driver."""
    from pyspark import TaskContext

    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            _invalidate_caches(importer)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
