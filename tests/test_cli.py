"""jobs/run_pipeline.py: the session's shuffle width (which sizes the
crunch, one task per shuffle partition) defaults to the session's
core count, not Spark's 200, unless the flag or the submit conf sets
it; a run commits the batch pipeline's output layout. Each case runs
in its own driver JVM, as the CLI does."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "flag, submit_conf, want",
    [
        (None, None, "3"),  # defaultParallelism of local[3]
        (5, None, "5"),
        (None, "7", "7"),
    ],
)
def test_cli_shuffle_partitions(flag, submit_conf, want):
    code = f"""
import sys
sys.path.insert(0, {os.path.join(ROOT, "jobs")!r})
from run_pipeline import build_session
spark = build_session({flag!r})
print("SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""
    conf = f"--conf spark.sql.shuffle.partitions={submit_conf} " if submit_conf else ""
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=f"--master local[3] {conf}pyspark-shell")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=300
    )
    assert out.returncode == 0, out.stderr
    assert f"SHUFFLE {want}" in out.stdout.splitlines(), out.stdout


def test_cli_multi_config_commit_and_console(spark, tmp_path):
    """Two --config files run off one scan and commit the routed table
    and both stats tables, each with a manifest entry; -D prints one
    line per routed row instead."""
    import numpy as np

    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf
    from logmetrics_spark.sources.tableio import TableIO

    pages = str(tmp_path / "pages")
    spec = SynthSpec(n_rows=60, time_span_seconds=300)
    spark.createDataFrame(gen_pages_pdf(np.arange(spec.n_rows), spec)).write.parquet(pages)
    cmd = [
        sys.executable, os.path.join(ROOT, "jobs", "run_pipeline.py"),
        "--config", os.path.join(ROOT, "configs", "rest_api.toml"),
        "--config", os.path.join(ROOT, "configs", "apache.toml"),
        "--pages", pages,
    ]
    env = dict(
        os.environ, PYTHONPATH=ROOT, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell"
    )

    def run(*extra):
        out = subprocess.run(
            cmd + list(extra), capture_output=True, text=True, env=env, cwd=ROOT, timeout=600
        )
        assert out.returncode == 0, out.stderr[-3000:]
        return out

    out_dir = str(tmp_path / "out")
    run("--out", out_dir)
    io = TableIO(root=out_dir)
    for table in ("routed", "stats_pool", "stats_pusher"):
        assert io.snapshots(table), f"no manifest entry for {table}"
        assert io.read(spark, table).count() > 0, table
    n_routed = io.read(spark, "routed").count()

    shown = run("-D")
    lines = shown.stdout.splitlines()
    assert len(lines) == n_routed
    assert all(line.startswith("put ") for line in lines)
    assert f"# {n_routed} lines (not sent: -D)" in shown.stderr
