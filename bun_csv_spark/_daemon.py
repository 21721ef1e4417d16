"""PySpark worker daemon that keeps zip archives' import index across tasks.

``session.get_spark`` starts the Python worker daemon through this module
(``spark.python.daemon.module``). Every Python task calls PySpark's
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 each
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory in pure Python, and a worker holds one importer per
package directory it imported from ``pyspark.zip`` (1,328 entries), the
py4j zip and the spark-core jar: 16 of them, 0.18-0.23 s per task
measured on a 4-core box.

``install`` replaces ``zipimporter.invalidate_caches`` with a guard that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp it last read it at. A new or rewritten archive is still re-read,
and every other path-entry finder is still invalidated. The stamps of the
importers that exist when the daemon starts are recorded before it forks,
so each worker inherits them.

    python -m bun_csv_spark._daemon   # what the JVM runs

Importing this module changes nothing; only running it installs the guard.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` and stamp the live importers."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        stamp = _stamp(self.archive)
        if stamp is None or stamps.get(self.archive) != stamp:
            reread(self)
            stamps[self.archive] = stamp
        else:  # unchanged: take the directory last read by any importer of it
            self._files = zipimport._zip_directory_cache.get(self.archive, {})

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            stamps.setdefault(finder.archive, _stamp(finder.archive))


if __name__ == "__main__":
    from pyspark import daemon  # creates the importers the workers inherit

    # install from the importable module, not this ``__main__`` copy, so
    # the guard's ``__module__`` names ``bun_csv_spark._daemon``
    from bun_csv_spark._daemon import install as _install

    _install()
    daemon.manager()
