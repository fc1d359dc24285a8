"""Skip the zip-archive re-reads a reused PySpark worker does per task.

Before every task, PySpark's worker (``worker_util.setup_spark_files``,
pyspark 4.1.2) calls ``importlib.invalidate_caches()``. On CPython 3.11
that makes every ``zipimport.zipimporter`` on the worker's path re-read
its archive's whole central directory, whether or not the archive
changed: 16 reads of 3 archives per task in a ``local[4]`` session, and
each ``--py-files`` zip adds its own.

Measured on a 4-vCPU VM at ``local[4]``, without and with this guard:

- identity ``mapInPandas`` over 64 tasks on 4 reused workers: worker
  CPU 6.57 -> 1.58 s, wall 1.90 -> 0.96 s (medians of 5);
- perfbench ``batch_rollup``, 10 interleaved pairs: ``pages_per_s``
  3721 -> 4366 (10/10 wins), ``e2e_s`` 1.34 -> 1.15 s; traced, the task
  count (242) and every row count are unchanged while ``fused.cpu_s``
  falls 2.94 -> 2.20 s.

:func:`invalidate_caches` replaces ``zipimporter.invalidate_caches``.
It re-reads an archive only when the archive's ``(st_ino,
st_mtime_ns, st_size)`` differs from the one stat'ed before the last
read, or when ``zipimport._zip_directory_cache`` has no entry for it.
Otherwise the importer takes the cached directory, which is what the
re-read would have returned. The stat precedes the read, so an archive
rewritten during a read is read again on the next call.

In sessions that ``session.get_spark`` builds for a local master, the
daemon (``logmetrics_spark/daemon.py``) installs :func:`invalidate_caches`
before it forks, and records every archive's stat, so each worker runs
it from its first task. The daemon must install it itself: the package
is imported there before any worker exists, and forked workers never
import it again (a daemon without this step showed 5 archive reads per
task).

``logmetrics_spark/__init__.py`` calls :func:`install` on import, for
sessions that ``get_spark`` did not build (Spark's own daemon: cluster
executors, the spark-submit CLI). It does nothing outside a PySpark
worker, so the driver's import machinery is untouched. In such a
worker, cloudpickle imports the package the first time a task runs one
of the engine's kernels (fused, crunch, lineage stage 1). Workers are
reused, so each worker re-reads each archive once, on the task after
that, and never again. Query plans and task counts do not change; only
the worker CPU per task goes down.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> its (st_ino, st_mtime_ns, st_size) before the last read
_read_stat: dict[str, tuple[int, int, int]] = {}


def _stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive."""
    stat = _stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stat is not None and files is not None and _read_stat.get(self.archive) == stat:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    if stat is not None and self.archive in zipimport._zip_directory_cache:
        _read_stat[self.archive] = stat
    else:
        _read_stat.pop(self.archive, None)


def install() -> None:
    """Install :func:`invalidate_caches` when running in a PySpark
    worker; idempotent, and a no-op anywhere else."""
    # a worker imports pyspark.core.files before its first task; a
    # process that has not is no worker, and pyspark stays unimported
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
