"""get_spark's memory defaults (Tungsten execution pages live off the GC
heap, capped at half the driver heap) and its Python daemon for local
masters (``logmetrics_spark.daemon``): every worker forks warm, with the
engine's kernels imported, the zipimport guard installed and the
daemon's objects frozen out of the collector's reach; the daemon is
found from any working directory, and its path rule imports the
installed pyspark's bytecode only in place of the same distribution's
zip."""

import filecmp
import os
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest

from logmetrics_spark.daemon import pyspark_path
from logmetrics_spark.session import _mem_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "size, mb",
    [("64g", 65536), ("2011m", 2011), ("2G", 2048), ("1.5g", 1536), ("4096mb", 4096),
     ("1024", 1024), ("1048576k", 1024)],
)
def test_mem_mb(size, mb):
    assert _mem_mb(size) == mb


def test_session_execution_memory_is_off_heap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.memory.offHeap.enabled") == "true"
    driver_mb = _mem_mb(conf.get("spark.driver.memory"))
    assert _mem_mb(conf.get("spark.memory.offHeap.size")) == driver_mb // 2


def _fork_probe():
    """A mapInPandas function that yields one row per task: what the
    worker inherited from its daemon. Local, so cloudpickle ships it
    by value, and free of package references, so running it imports
    nothing."""

    def probe(batches):
        import gc
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        jvm_zip = next(p for p in os.environ["PYTHONPATH"].split(os.pathsep)
                       if os.path.basename(p) == "pyspark.zip")
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "fused": ["logmetrics_spark.operators.fused" in sys.modules],
            "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)],
            "pyspark": [pyspark.__file__],
            "jvm_zip": [jvm_zip],
        })

    return probe


def _installed_zip_is(jvm_zip: str) -> bool:
    """Whether the JVM's pyspark.zip is the installed pyspark's own zip
    or a byte-identical copy of it."""
    own = os.path.join(os.path.dirname(pyspark.__file__), "python", "lib", "pyspark.zip")
    return os.path.isfile(own) and filecmp.cmp(own, jvm_zip, shallow=False)


def test_workers_fork_warm(spark):
    rows = spark.range(0, 64, 1, 16).mapInPandas(
        _fork_probe(),
        "pid long, frozen long, fused boolean, guard string, reads long, "
        "pyspark string, jvm_zip string",
    ).collect()
    assert len(rows) == 16
    for r in rows:
        assert r["frozen"] > 0, r
        assert r["fused"], r
        assert r["guard"] == "logmetrics_spark.worker_guard", r
        assert r["reads"] == 0, r
        if _installed_zip_is(r["jvm_zip"]):
            assert "pyspark.zip" not in r["pyspark"], r


def test_daemon_found_from_any_working_directory(tmp_path):
    """The JVM starts the daemon with ``python -m`` in the driver's
    working directory, which goes first on its path: from a directory
    without the package, only ``spark.executorEnv.PYTHONPATH`` finds
    it. The driver finds the package through ``sys.path``, not the
    environment, which the JVM would pass on to the daemon."""
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
import numpy as np
from logmetrics_spark.config import load_config
from logmetrics_spark.operators.fused import fused_partials_multi
from logmetrics_spark.session import get_spark
from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf

spark = get_spark("cwd", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spec = SynthSpec(n_rows=20, time_span_seconds=120)
pages = spark.createDataFrame(gen_pages_pdf(np.arange(spec.n_rows), spec))
cfg = load_config({os.path.join(ROOT, "configs", "rest_api.toml")!r})
print("PARTIALS", fused_partials_multi(pages, [(cfg.log_groups[0], None)]).count())

def probe(batches):
    import gc
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame({{"frozen": [gc.get_freeze_count()]}})

print("FROZEN", min(r[0] for r in spark.range(0, 4, 1, 2).mapInPandas(probe, "frozen long").collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    partials = [int(line.split()[1]) for line in lines if line.startswith("PARTIALS ")]
    frozen = [int(line.split()[1]) for line in lines if line.startswith("FROZEN ")]
    assert partials and partials[0] > 0, out.stdout
    assert frozen and frozen[0] > 0, out.stdout


def _zip(path, members=("pyspark/__init__.py",), content=b""):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for m in members:
            z.writestr(m, content)
    return path


@pytest.fixture
def tree(tmp_path):
    """A site directory holding an installed pyspark (pip layout) with
    its own zip, an identical copy of that zip in one SPARK_HOME and a
    different zip in another."""
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    own = _zip(str(site / "pyspark" / "python" / "lib" / "pyspark.zip"))
    same = str(tmp_path / "spark-same" / "python" / "lib" / "pyspark.zip")
    os.makedirs(os.path.dirname(same))
    shutil.copyfile(own, same)
    other = _zip(str(tmp_path / "spark-other" / "python" / "lib" / "pyspark.zip"),
                 content=b"# another build\n")
    return {"site": str(site), "own": own, "same": same, "other": other,
            "cwd": str(tmp_path / "work"), "py4j": str(tmp_path / "py4j-src.zip"),
            "stdlib": str(tmp_path / "python311.zip")}


def test_path_rule_moves_the_installed_zip_behind_its_site(tree):
    t = tree
    path = [t["cwd"], t["own"], t["py4j"], t["stdlib"], t["site"], "/elsewhere"]
    moved = pyspark_path(path)
    assert moved == [t["cwd"], t["py4j"], t["stdlib"], t["site"], t["own"], "/elsewhere"]
    assert pyspark_path(moved) == moved


def test_path_rule_moves_an_identical_spark_home_zip(tree):
    t = tree
    path = [t["cwd"], t["same"], t["py4j"], t["site"]]
    moved = pyspark_path(path)
    assert moved == [t["cwd"], t["py4j"], t["site"], t["same"]]
    assert pyspark_path(moved) == moved


def test_path_rule_keeps_another_spark_home_first(tree):
    t = tree
    path = [t["cwd"], t["other"], t["py4j"], t["stdlib"], t["site"]]
    assert pyspark_path(path) == path
    # no installed pyspark, or no zip, leaves the path alone too
    assert pyspark_path([t["cwd"], t["own"], t["py4j"]]) == [t["cwd"], t["own"], t["py4j"]]
    assert pyspark_path([t["cwd"], t["site"]]) == [t["cwd"], t["site"]]
