"""Phase-B crunch sizing: the emissions must not depend on the crunch's
task count or on where Arrow batch boundaries cut a (group, key_id)
segment, and the crunch must run one task per shuffle partition."""

import dataclasses

import pytest

from logmetrics_spark.operators.aggregate import _FLUSH_ROWS, crunch
from logmetrics_spark.operators.fused import fused_partials_multi
from logmetrics_spark.plans.pipeline import run_pipeline_multi
from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _throughput(cfg):
    """The production roll-up profile: no heartbeats, no stale removal."""
    return dataclasses.replace(
        cfg,
        log_groups=tuple(
            dataclasses.replace(lg, send_duplicates=False, stale_removal=False, interval=300)
            for lg in cfg.log_groups
        ),
    )


@pytest.mark.parametrize("fast", [True, False], ids=["fast_path", "dups_stale"])
def test_crunch_invariant_to_task_count_and_batch_size(spark, pages, rest_cfg, apache_cfg, fast):
    """1, the default, and 4x the default crunch tasks, each with 7-row
    Arrow batches (segments span batches, so the mapper's held-back
    tail carries them), give the emissions of the default crunch at
    the session's batch size. The 1-task crunch also cuts its output
    into several frames (more than _FLUSH_ROWS rows)."""
    cfgs = [rest_cfg, apache_cfg]
    if fast:
        cfgs = [_throughput(c) for c in cfgs]
    else:
        assert all(lg.send_duplicates and lg.stale_removal for lg in apache_cfg.log_groups)
    lgs = [lg for c in cfgs for lg in c.log_groups]
    hosts = gen_hosts_lookup_dict()
    partials = fused_partials_multi(
        pages, [(lg, hosts if lg.lookup else None) for lg in lgs]
    ).persist()
    seg_max = partials.groupBy("group", "key_id").count().agg({"count": "max"}).first()[0]
    assert seg_max > 7, "no (group, key_id) segment spans a 7-row batch: test is vacuous"

    lg_by_group = {lg.name: lg for lg in lgs}
    ref = crunch(partials, lg_by_group).localCheckpoint(eager=True)
    assert ref.count() > _FLUSH_ROWS
    default_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prev = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        for n in (1, default_n, 4 * default_n):
            got = crunch(partials, lg_by_group, num_partitions=n)
            assert got.exceptAll(ref).isEmpty(), f"extra emissions at {n} tasks"
            assert ref.exceptAll(got).isEmpty(), f"missing emissions at {n} tasks"
    finally:
        spark.conf.set(BATCH_CONF, prev)
        partials.unpersist()


@pytest.mark.parametrize("profile", ["throughput", "shipped"])
def test_crunch_runs_one_task_per_shuffle_partition(spark, pages, rest_cfg, apache_cfg, profile):
    """run_pipeline_multi's crunch stage (the job's last stage: route
    adds no shuffle) runs spark.sql.shuffle.partitions tasks, and no
    stage of the pipeline runs more."""
    cfgs = [rest_cfg, apache_cfg]
    if profile == "throughput":
        cfgs = [_throughput(c) for c in cfgs]
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sc, probe = spark.sparkContext, f"crunch-task-probe-{profile}"
    res = run_pipeline_multi(spark, cfgs, pages, lookups=lk)
    sc.setJobGroup(probe, "crunch task count")
    try:
        res.routed.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    stage_ids = sorted(
        sid
        for jid in tracker.getJobIdsForGroup(probe)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    tasks = {sid: info.numTasks for sid in stage_ids if (info := tracker.getStageInfo(sid))}
    assert tasks, "probe saw no stages"
    assert tasks[max(tasks)] == n, tasks
    assert max(tasks.values()) == n, tasks
