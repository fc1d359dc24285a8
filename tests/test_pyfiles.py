"""spark-submit --py-files readiness: the package must import and run
its Spark-free layers from a zip (executors receive it via zipimport).
No SparkSession needed — config parsing, the sequential oracle, and the
kernel builders are exercised in a subprocess whose only package source
is the zip artifact. The zip carries a checked-hash ``.pyc`` beside each
``.py``: the subprocess loads the bytecode, and a zip whose ``.pyc``
files carry another interpreter's magic number still imports, from
the ``.py``."""

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build(path):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from package_pyfiles import build

    return build(str(path))


def _run_from_zip(zpath, tmp_path, suffix):
    """Import and run the Spark-free layers in a subprocess whose only
    source of the package is ``zpath``; every module must load from a
    file ending in ``suffix``."""
    code = f"""
import logmetrics_spark
assert "logmetrics_spark.zip" in logmetrics_spark.__file__, logmetrics_spark.__file__
from logmetrics_spark.config import load_config
from logmetrics_spark.oracle import run_oracle
from logmetrics_spark.operators.fused import partials_mapper
from logmetrics_spark.functions.dedup import mh_affine_params

cfg = load_config(r"{os.path.join(ROOT, 'configs', 'rest_api.toml')}")
assert cfg.log_groups
fn = partials_mapper([(cfg.log_groups[0], None)])
assert callable(fn)
assert len(mh_affine_params(4)) == 4
import logmetrics_spark.operators.fused as fused
for mod in (logmetrics_spark, fused):
    assert mod.__file__.endswith({suffix!r}), mod.__file__
print("ZIP-OK", len(cfg.log_groups))
"""
    env = dict(os.environ)
    # the zip is the only source of THIS package, but keep any
    # inherited entries (pyspark may be supplied via PYTHONPATH on
    # SPARK_HOME-tarball setups)
    env["PYTHONPATH"] = os.pathsep.join(
        [zpath] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert "ZIP-OK" in out.stdout


def test_package_runs_from_zip(tmp_path):
    _run_from_zip(_build(tmp_path / "logmetrics_spark.zip"), tmp_path, ".pyc")


def test_foreign_bytecode_falls_back_to_source(tmp_path):
    built = _build(tmp_path / "built.zip")
    zpath = str(tmp_path / "logmetrics_spark.zip")
    with zipfile.ZipFile(built) as src, zipfile.ZipFile(zpath, "w") as dst:
        for info in src.infolist():
            data = src.read(info)
            if info.filename.endswith(".pyc"):
                data = b"\x00\x00\r\n" + data[4:]
            dst.writestr(info, data)
    _run_from_zip(zpath, tmp_path, ".py")
