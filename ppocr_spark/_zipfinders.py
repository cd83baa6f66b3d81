"""Stat-checked zip finders for the Python workers.

PySpark 4.1 calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``). Under Python 3.11
and 3.12 each ``zipimport.zipimporter`` then re-reads its archive's central
directory. A worker holds about 16 of them (``pyspark.zip`` with 1,328
entries and 11 of its sub-packages, the py4j zip and its package, the Spark
core jar), so every Python task paid about 200 ms of CPU before its first
row.

:class:`StatZipImporter` re-reads an archive only when its
``(st_ino, st_mtime_ns, st_size)`` changed, and all finders over one archive
share that read. A zip shipped later with ``addPyFile`` gets a new finder
from ``sys.path_hooks``; a zip rewritten in place is read again.

:func:`install` runs when ``ppocr_spark`` is imported. Every engine UDF is
pickled by reference to a ``ppocr_spark`` module, so a worker installs the
finders while it unpickles its first engine task, before any row is read,
and keeps them while Spark reuses it.

Designs not taken:

- ``spark.python.daemon.module`` pointing at a wrapper module. Workers then
  run as ``python -m <module> pyspark.worker`` and no longer carry
  ``pyspark.daemon`` in their command line, which is how
  ``perfbench/host.py`` finds them: ``peak_worker_rss_mb`` read 0.0 in every
  run of a prototype, a blinded metric rather than a gain.
- ``spark.python.worker.module``. Under the daemon it is ignored unless its
  name starts with ``pyspark`` (``pyspark/daemon.py``).
- Patching ``importlib.invalidate_caches`` globally. A file shipped later
  with ``addPyFile`` into a directory already on ``sys.path``, or a zip
  rewritten in place, could then be missed.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp, directory) of the last read of that archive. It is
# per process, like zipimport's own directory cache, because the finders it
# serves are.
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


class StatZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the archive
    directory only when the archive's stat stamp changed."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = None
        # the directory may come from zipimport's cache, read at some earlier
        # time: stamp it by one read (shared by the archive's other finders)
        self.invalidate_caches()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _last_read.pop(self.archive, None)
            self._stamp = None
            super().invalidate_caches()
            return
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        if stamp == self._stamp:
            return
        seen = _last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
        else:
            # stat before read: a change racing the read shows up as a new
            # stamp on the next call
            super().invalidate_caches()
            _last_read[self.archive] = (stamp, self._files)
        self._stamp = stamp


def install() -> None:
    """Put :class:`StatZipImporter` in place of the stock zip finder, in
    ``sys.path_hooks`` and for every plain ``zipimporter`` already in
    ``sys.path_importer_cache``. Idempotent."""
    if sys.version_info >= (3, 13):
        return  # the stock finder already re-reads lazily
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = StatZipImporter
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                cache[path] = StatZipImporter(path)
            except zipimport.ZipImportError:
                pass  # the archive is gone: the stock finder handles that
