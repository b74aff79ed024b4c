"""Python worker daemon for sessions built by ``get_spark``
(``spark.python.daemon.module``).

Every Python-worker task ends its setup with
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``). Before
CPython 3.12 that makes each zipimporter on the worker's path re-read
its whole archive directory (``pyspark.zip``: 1328 entries, about 16
importers), a fixed cost of about 0.25 s of CPU per task. Here the
re-read happens only when the archive's stat changed, which is what
3.12 does (gh-103200). Forked workers inherit the patch and reused
workers keep it, so an archive added by ``addPyFile`` still gets a
fresh importer and a rewritten one is still re-read.

The daemon also imports pandas and pyarrow before it forks, so a worker
that runs an Arrow task (``mapInPandas``, pandas UDFs,
``applyInPandas*``) inherits them instead of importing them itself,
about 0.35 s of CPU per fresh worker. ``get_spark`` gives RDD and SQL
runners one worker env, so this one daemon serves every Python task.

The daemon boots when ``get_spark`` creates the SparkContext, not when
the first Python task arrives: ``get_spark`` runs a one-task job on a
background thread (job group ``mapreduce_rust_spark.worker_pool``), so
the import above overlaps the JVM's first SQL plan.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only when its
    ``(st_mtime_ns, st_size)`` differs from the stamp of the last
    re-read, or when it cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pandas  # noqa: F401  (inherited by every forked worker)
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager
    manager()
