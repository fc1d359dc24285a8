"""The reused-worker zipimport guard (``logmetrics_spark.worker_guard``):
installed in every Python worker that ran an engine kernel and active
for that worker's later tasks (in the tests' local session the daemon,
``logmetrics_spark.daemon``, installs it before it forks, so every
worker has it; ``install()`` on import covers sessions with Spark's own
daemon); an unchanged archive is not re-read, a changed one always is;
the driver's import machinery is untouched."""

import os
import zipfile
import zipimport

import pytest

from logmetrics_spark import worker_guard
from logmetrics_spark.plans.pipeline import run_pipeline_multi
from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf


def _worker_probe():
    """A mapInPandas function that yields one row per task: the
    worker's pid, whether the engine package is loaded there, which
    ``invalidate_caches`` it runs, and how many archive reads one
    ``importlib.invalidate_caches()`` costs it. Local, so cloudpickle
    ships it by value, and free of package references, so running it
    imports nothing."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

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
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "engine": ["logmetrics_spark" in sys.modules],
            "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)],
        })

    return probe


def test_guard_runs_in_every_worker_that_ran_a_kernel(spark, pages, rest_cfg, apache_cfg):
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    assert run_pipeline_multi(spark, [rest_cfg, apache_cfg], pages, lookups=lk).routed.count()
    # later tasks on the same reused workers (4 cores, 16 tasks)
    rows = spark.range(0, 64, 1, 16).mapInPandas(
        _worker_probe(), "pid long, engine boolean, guard string, reads long"
    ).collect()
    ran_kernel = [r for r in rows if r["engine"]]
    assert ran_kernel, rows
    for r in ran_kernel:
        assert r["guard"] == "logmetrics_spark.worker_guard", r
        assert r["reads"] == 0, r


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def guarded_reads(monkeypatch):
    """The guard in place of the stdlib method (undone after the test),
    with every ``zipimport._read_directory`` call recorded."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_guard.invalidate_caches)
    monkeypatch.setattr(worker_guard, "_read_stat", {})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_guard_rereads_only_a_changed_archive(tmp_path, guarded_reads):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, ["mod_a"])
    try:
        imp = zipimport.zipimporter(zpath)
        assert guarded_reads == [zpath]  # the constructor's read
        imp.invalidate_caches()  # no read recorded yet: read once
        assert guarded_reads == [zpath] * 2
        for _ in range(3):
            imp.invalidate_caches()
            zipimport.zipimporter(zpath).invalidate_caches()
        assert guarded_reads == [zpath] * 2
        assert imp.find_spec("mod_a") is not None
        assert imp.find_spec("mod_b") is None

        # a different module set: the size changes
        _write_zip(zpath, ["mod_a", "mod_b"])
        imp.invalidate_caches()
        assert guarded_reads == [zpath] * 3
        assert imp.find_spec("mod_b") is not None
        imp.invalidate_caches()
        assert guarded_reads == [zpath] * 3

        # same size, later mtime
        st = os.stat(zpath)
        _write_zip(zpath, ["mod_a", "mod_c"])
        os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        assert os.stat(zpath).st_size == st.st_size
        imp.invalidate_caches()
        assert guarded_reads == [zpath] * 4
        assert imp.find_spec("mod_c") is not None
        assert imp.find_spec("mod_b") is None

        # no cached directory: read whatever the stat says
        del zipimport._zip_directory_cache[zpath]
        imp.invalidate_caches()
        assert guarded_reads == [zpath] * 5
        assert zpath in zipimport._zip_directory_cache
    finally:
        zipimport._zip_directory_cache.pop(zpath, None)


def test_guard_drops_a_removed_archive(tmp_path, guarded_reads):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, ["mod_a"])
    try:
        imp = zipimport.zipimporter(zpath)
        imp.invalidate_caches()
        os.remove(zpath)
        imp.invalidate_caches()
        assert zpath not in zipimport._zip_directory_cache
        assert imp.find_spec("mod_a") is None
        _write_zip(zpath, ["mod_b"])
        imp.invalidate_caches()
        assert imp.find_spec("mod_b") is not None
    finally:
        zipimport._zip_directory_cache.pop(zpath, None)


def test_driver_keeps_stdlib_invalidate_caches(spark):
    # the package is imported and a session runs in this process
    assert zipimport.zipimporter.invalidate_caches is worker_guard._stdlib_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    worker_guard.install()
    assert zipimport.zipimporter.invalidate_caches is worker_guard._stdlib_invalidate_caches


def test_install_on_a_worker_is_idempotent(monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    worker_guard.install()
    worker_guard.install()
    assert zipimport.zipimporter.invalidate_caches is worker_guard.invalidate_caches
    assert worker_guard._stdlib_invalidate_caches.__module__ == "zipimport"
