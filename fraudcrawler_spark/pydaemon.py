"""PySpark worker daemon that spares each Python task a re-read of every
zip archive on its path (``session.PYTHON_DAEMON_MODULE``; see
``session.get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task.
On CPython < 3.12 that makes every ``zipimporter`` re-read its archive's
whole directory, and the workers import PySpark from ``pyspark.zip``.
Before the daemon forks any worker, ``invalidate_caches_if_changed``
replaces ``zipimporter.invalidate_caches``; the stock daemon then runs.
"""

import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(importer):
    """Re-read ``importer``'s archive directory only if the archive's
    ``(st_mtime_ns, st_size)`` changed since this importer last read it."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(importer, "_read_stamp", None) != stamp:
        _read(importer)
        importer._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
        # stamp the daemon's importers here, so each forked worker
        # starts with them
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    daemon.manager()
