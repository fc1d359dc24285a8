"""Build the --py-files artifact for cluster submission.

Produces a zip of the pure-Python ``logmetrics_spark`` package suitable
for ``spark-submit --py-files logmetrics_spark.zip jobs/run_pipeline.py
...`` — the deployment mode for multi-executor runs. The package keeps
zero ``__file__``-relative resource loading, so zipimport on executors
is sufficient (verified by ``tests/test_pyfiles.py``).

Each ``.py`` has a checked-hash ``.pyc`` of the building interpreter
beside it, so a worker that imports the engine from the zip (every
worker of a cluster session, which keeps Spark's daemon) skips the
compile (engine import after pyspark, pandas and pyarrow: 69-90 ->
27-41 ms per worker). zipimport loads the ``.pyc`` only when
its magic number matches the interpreter's and its hash matches the
``.py`` in the zip; otherwise it compiles the ``.py``.

Usage: python scripts/package_pyfiles.py [out.zip]
"""

from __future__ import annotations

import os
import py_compile
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> str:
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z, \
            tempfile.TemporaryDirectory() as tmp:
        pyc = os.path.join(tmp, "module.pyc")
        pkg = os.path.join(ROOT, "logmetrics_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    arcname = os.path.relpath(full, ROOT)
                    z.write(full, arcname)
                    py_compile.compile(
                        full, cfile=pyc, dfile=arcname, doraise=True,
                        invalidation_mode=py_compile.PycInvalidationMode.CHECKED_HASH,
                    )
                    z.write(pyc, arcname + "c")
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "logmetrics_spark.zip"
    print(build(out))
