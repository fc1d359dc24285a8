"""One tail for batch (run_pipeline), resume (run_resumable) and
stream (run_streaming_routed): all three end in
plans.pipeline.commit, which writes the routed table and both stats
tables with manifests, reads the stats off the committed routed table
(so the pipeline runs once) and releases the partials the crunch
cached."""

import dataclasses
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from logmetrics_spark.plans.lineage import run_resumable
from logmetrics_spark.plans.pipeline import run_pipeline
from logmetrics_spark.sources.synth import SynthSpec, gen_hosts_lookup_pdf, gen_pages_pdf
from logmetrics_spark.sources.tableio import TableIO
from logmetrics_spark.streaming.stream_pipeline import (
    finalize_streaming_routed,
    run_streaming_routed,
)

TABLES = ("routed", "stats_pool", "stats_pusher")
RUNS = ("batch", "resume", "stream")


def _merged(rest_cfg, apache_cfg):
    """Both fixture configs, as shipped, as one config (resume and
    stream take one)."""
    return dataclasses.replace(
        rest_cfg, log_groups=tuple(rest_cfg.log_groups) + tuple(apache_cfg.log_groups)
    )


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="module")
def committed(spark, rest_cfg, apache_cfg, tmp_path_factory):
    """Batch, resume and stream, each run once over the same pages (four parquet files, so
    the stream drains them in more than one micro-batch), with the
    number of persistent RDDs the run left behind: ids persisted before
    it (other tests' ``localCheckpoint`` pins, which ``clearCache`` does
    not release) are not its own."""
    base = tmp_path_factory.mktemp("commit")
    pages = str(base / "pages")
    spec = SynthSpec(n_rows=120, time_span_seconds=300)
    pdf = gen_pages_pdf(np.arange(spec.n_rows), spec)
    spark.createDataFrame(pdf).repartition(4).write.parquet(pages)
    cfg = _merged(rest_cfg, apache_cfg)
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    runs = {
        "batch": lambda out: run_pipeline(
            spark, cfg, spark.read.parquet(pages), io=TableIO(root=out), lookups=lk
        ),
        "resume": lambda out: run_resumable(
            spark, cfg, pages, str(base / "work"), lookups=lk, io=TableIO(root=out)
        ),
        "stream": lambda out: run_streaming_routed(spark, cfg, pages, out, lookups=lk),
    }
    got = {}
    for name, start in runs.items():
        spark.catalog.clearCache()
        before = _persistent_rdds(spark)
        out = str(base / name)
        start(out)
        got[name] = (TableIO(root=out), len(_persistent_rdds(spark) - before))
    return {"cfg": cfg, "runs": got, "stream_out": str(base / "stream")}


@pytest.mark.parametrize("run", RUNS)
def test_no_cache_outlives_a_commit(committed, run):
    """The crunch persists the partials on the shipped profile
    (heartbeats and stale removal); the commit must release them."""
    _io, n_persistent = committed["runs"][run]
    assert n_persistent == 0, f"{run}: {n_persistent} persistent RDDs after the commit"


@pytest.mark.parametrize("run", RUNS)
def test_every_run_commits_the_same_layout(spark, committed, run):
    """routed, stats_pool and stats_pusher, each with a manifest entry;
    the pusher stats add up to the routed table."""
    io, _ = committed["runs"][run]
    for table in TABLES:
        assert io.snapshots(table), f"{run}: no manifest entry for {table}"
    routed = io.read(spark, "routed")
    n = routed.count()
    assert n > 0
    sent = io.read(spark, "stats_pusher").agg(
        F.sum("key_sent").alias("keys"), F.sum("byte_sent").alias("bytes")
    ).first()
    assert sent["keys"] == n
    assert sent["bytes"] == routed.agg(F.sum(F.length("line"))).first()[0]
    assert io.read(spark, "stats_pool").count() > 0


@pytest.mark.parametrize("run", ["resume", "stream"])
def test_every_run_commits_the_same_tables(spark, committed, run):
    """Resume and stream commit exactly the batch run's routed rows
    and stats tables."""
    ref, _ = committed["runs"]["batch"]
    io, _ = committed["runs"][run]
    for table in TABLES:
        a = io.read(spark, table)
        b = ref.read(spark, table).select(*a.columns)
        assert a.exceptAll(b).isEmpty(), f"{run}: extra rows in {table}"
        assert b.exceptAll(a).isEmpty(), f"{run}: missing rows in {table}"


def test_stream_finalize_honours_the_table_format(spark, committed, tmp_path):
    """Stream finalize writes through TableIO: fmt='iceberg' reaches the
    Iceberg source (the runtime jar is absent, so it fails there) and
    commits no manifest."""
    io = TableIO(root=str(tmp_path / "ice"), fmt="iceberg")
    before = _persistent_rdds(spark)
    with pytest.raises(Exception) as ei:
        finalize_streaming_routed(spark, committed["cfg"], committed["stream_out"], io)
    msg = str(ei.value).lower()
    assert "iceberg" in msg, f"error did not come from the iceberg source: {msg[:200]}"
    assert not os.path.exists(io.manifest_path("routed"))
    assert not _persistent_rdds(spark) - before


def test_commit_runs_the_pipeline_once(spark, pages, rest_cfg, apache_cfg, tmp_path):
    """run_pipeline(write=True) on the throughput profile (nothing
    cached) runs the fused kernel's stage once: the stats read the
    committed routed table instead of re-running parse and crunch.
    The pages arrive in 13 partitions, a task count no other stage of
    the run has, which marks the kernel's stage."""
    cfg = _merged(rest_cfg, apache_cfg)
    cfg = dataclasses.replace(
        cfg,
        log_groups=tuple(
            dataclasses.replace(lg, send_duplicates=False, stale_removal=False, interval=300)
            for lg in cfg.log_groups
        ),
    )
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    sc, probe, n = spark.sparkContext, "commit-kernel-probe", 13
    sc.setJobGroup(probe, "fused kernel runs once")
    try:
        run_pipeline(spark, cfg, pages.repartition(n), io=TableIO(root=str(tmp_path)), lookups=lk)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    # a job lists the stages it skipped (shuffle output it reused) too,
    # so count the stages that ran their tasks, each stage once
    ran = {
        sid: info.numCompletedTasks
        for jid in tracker.getJobIdsForGroup(probe)
        for sid in tracker.getJobInfo(jid).stageIds
        if (info := tracker.getStageInfo(sid))
    }
    assert list(ran.values()).count(n) == 1, ran
