"""jobs/run_pipeline.py's session: the shuffle width (which sizes the
crunch, one task per shuffle partition) defaults to the session's
core count, not Spark's 200, unless the flag or the submit conf sets
it. Each case runs in its own driver JVM, as the CLI does."""

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
