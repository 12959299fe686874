"""PySpark worker daemon that keeps zip import caches across tasks.

Every Python-worker task (RDD function, pandas/Arrow UDF, Python-list
``createDataFrame``) starts in pyspark's ``setup_spark_files``, which ends
with ``importlib.invalidate_caches()``.  On CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every cached zip importer, and each
call re-parses the archive's whole central directory (CPython gh-103200;
later releases re-read lazily).  Workers import pyspark from
``pyspark.zip`` (1328 entries) through one importer per imported
subpackage, so each task re-read an unchanged archive ~16 times, which
cost 130-210 ms per task on a 4-core host.

The guard wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from the stamp
taken just before its last read; otherwise the importer adopts the shared
directory in ``zipimport._zip_directory_cache``.  Spark invalidates caches
so that archives shipped with ``addPyFile`` import: a new archive gets a
new importer, which reads it on creation, and a rewritten one gets a new
stamp, so both still import.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``.
:func:`main` installs the guard, stamps the importers the daemon already
holds, then runs pyspark's own ``manager()``; forked workers inherit both.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections import Counter

#: archive path -> calls to the unguarded ``invalidate_caches`` (each one
#: re-reads the archive's directory) in this process.  A forked worker
#: starts from the daemon's counts.
rereads: Counter[str] = Counter()

#: archive path -> ``(st_mtime_ns, st_size)`` taken before its last read.
_stamps: dict[str, tuple[int, int] | None] = {}

_unguarded = zipimport.zipimporter.invalidate_caches


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp before reading: a write racing the read leaves a stale stamp,
    # which forces one more re-read rather than hiding the change
    _unguarded(self)
    _stamps[self.archive] = stamp
    rereads[self.archive] += 1


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # one guarded read per archive stamps it; the importers that share
    # the archive then adopt that directory
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run as ``python -m``: re-import under the package name so workers
    # that import this module read the counters the guard updates.
    from applications_analytics_midas_hbase_metrics_spark import worker_daemon

    worker_daemon.main()
