"""The Python daemon of local sessions: import once, then fork warm.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
for local masters, and the JVM starts it as ``python -m
logmetrics_spark.daemon pyspark.worker``. Every Python worker of the
context is a fork of it. PySpark's own daemon imports pyspark from the
source-only ``pyspark.zip`` (0.83-0.97 s, against 0.15-0.20 s from an
installed pyspark's bytecode), every worker then imports pandas, pyarrow
and the engine's kernels again (0.27-0.43 s each), and a reused worker's
``gc.collect()`` after every task walks all of their objects (~74k,
18-22 ms). This daemon imports them once, installs the zipimport guard,
freezes what it holds out of the collector's reach and only then runs
PySpark's fork loop, so workers share those pages copy-on-write and
their per-task collection is nearly free.
"""

from __future__ import annotations

import filecmp
import os


def pyspark_path(path: list[str]) -> list[str]:
    """``path`` with the JVM's ``pyspark.zip`` moved behind the
    directory of the installed pyspark, when that zip is the installed
    distribution's own (``<dir>/pyspark/python/lib/pyspark.zip``, the pip
    layout) or a byte-identical copy of it; otherwise ``path`` unchanged.
    A ``SPARK_HOME`` whose zip differs keeps Spark's order."""
    zi = next((i for i, p in enumerate(path) if os.path.basename(p) == "pyspark.zip"), None)
    site = next((p for p in path if os.path.isfile(os.path.join(p, "pyspark", "__init__.py"))),
                None)
    if zi is None or site is None or path.index(site) < zi:
        return list(path)
    own = os.path.join(site, "pyspark", "python", "lib", "pyspark.zip")
    if not (os.path.isfile(own) and os.path.isfile(path[zi])
            and filecmp.cmp(own, path[zi], shallow=False)):
        return list(path)
    rest = path[:zi] + path[zi + 1:]
    at = rest.index(site) + 1
    return rest[:at] + [path[zi]] + rest[at:]


if __name__ == "__main__":
    import gc
    import importlib
    import sys
    import zipimport

    sys.path[:] = pyspark_path(sys.path)

    import pyspark.daemon  # imports the worker module named by sys.argv[1]
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401

    from logmetrics_spark import worker_guard
    from logmetrics_spark.operators import aggregate, fused, route  # noqa: F401

    # the package's own install() is a no-op here (no worker yet), and
    # forked workers never import the package again; one call records
    # every archive's stat before the fork
    zipimport.zipimporter.invalidate_caches = worker_guard.invalidate_caches
    importlib.invalidate_caches()
    gc.freeze()
    pyspark.daemon.manager()
