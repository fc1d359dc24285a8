"""spark-submit --py-files readiness: the package must import and run
its Spark-free layers from a zip (executors receive it via zipimport).
No SparkSession needed — config parsing, the sequential oracle, and the
kernel builders are exercised in a subprocess whose only package source
is the zip artifact."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_runs_from_zip(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from package_pyfiles import build

    zpath = build(str(tmp_path / "logmetrics_spark.zip"))

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
