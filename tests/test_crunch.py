"""Phase-B crunch: the mapper's emissions equal the oracle's bit for bit
and leave in bounded batches; they must not depend on the crunch's task
count or on where Arrow batch boundaries cut a (group, key_id) segment,
and the crunch must run one task per shuffle partition."""

import collections
import dataclasses

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from logmetrics_spark.contracts import md5_52_py
from logmetrics_spark.operators.aggregate import (
    _FLUSH_ROWS,
    _OUT_SCHEMA,
    crunch,
    local_reduce_frame,
    make_multi_crunch_mapper,
)
from logmetrics_spark.oracle import aggregate
from logmetrics_spark.timemetrics import np_h52
from logmetrics_spark.operators.fused import fused_partials_multi
from logmetrics_spark.operators.route import ROUTED_COLS
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


T0 = 1_700_000_000


def _datapoints(lg, rng, n_keys, big=False, gaps=(100, 3000, 6000)):
    """Datapoints of ``n_keys`` keys cycling counter, meter, histogram:
    up to 60 updates in bursts 400 s wide, the bursts one of ``gaps``
    seconds apart (data-free runs of up to ~800 windows). ``big`` adds a
    counter and a meter updated every third window with 18-digit
    values, whose running counts pass 2^63."""
    rows = []

    def add(k, mt, ts, values, never_stale):
        rows.extend(
            dict(key_id=f"k{k}|{mt}", group=lg.name, metric_type=mt, key_prefix="p",
                 key_suffix=f"s{k}", tags="host=h", ref_tag="", never_stale=never_stale,
                 ts_sec=int(x), value=int(v), record_id=int(rng.integers(0, 2**40)))
            for x, v in zip(ts, values)
        )

    for k in range(n_keys):
        n = int(rng.integers(1, 60))
        ts = T0 + np.sort(rng.choice(3, n) * int(rng.choice(gaps)) + rng.integers(0, 400, n))
        add(k, ("counter", "meter", "histogram")[k % 3], ts, rng.integers(0, 50, n),
            bool(rng.random() < 0.2))
    if big:
        for k, mt in ((n_keys, "counter"), (n_keys + 1, "meter")):
            ts = T0 + 3 * lg.interval * np.arange(40)
            add(k, mt, ts, rng.integers(5 * 10**17, 10**18, 40), False)
    return rows


def _crunch_input(lg, rows):
    """The crunch mapper's input for ``rows``: phase-A partials of two
    shuffled halves (so (key, w, t) partials repeat), with ``glw``,
    sorted as ``crunch`` sorts them. ``psum``, ``rid`` and ``val`` keep
    their nulls, as Spark hands them to the mapper."""
    pdf = pd.DataFrame(rows)
    pdf["w"] = pdf["ts_sec"] // lg.interval
    pdf["t"] = np.where(pdf["metric_type"] == "meter", pdf["ts_sec"] // lg.ewma_interval, 0)
    pdf["h52"] = [int(np_h52(md5_52_py(k), r)) for k, r in zip(pdf["key_id"], pdf["record_id"])]
    pdf = pdf.sample(frac=1, random_state=0)
    half = len(pdf) // 2
    parts = pd.concat(
        [local_reduce_frame(h, lg) for h in (pdf.iloc[:half], pdf.iloc[half:]) if len(h)],
        ignore_index=True,
    )
    bound = lg.send_duplicates or lg.stale_removal
    parts["glw"] = int(pdf["ts_sec"].max() // lg.interval) if bound else -1
    parts = parts.sort_values(["group", "key_id", "w", "t", "rid"], kind="stable")
    return pa.Table.from_pandas(parts, preserve_index=False)


def _run_mapper(lg, table, batch_rows):
    mapper = make_multi_crunch_mapper({lg.name: lg})
    return list(mapper(iter(table.to_batches(max_chunksize=batch_rows))))


def _canon(rows):
    """Emission rows as a multiset, ``value_num`` by its bits."""
    cols = ("key_id", "boundary", "ending", "ts", "is_dup", "is_zero", "value_str")
    return collections.Counter(
        tuple(r[c] for c in cols) + (float(r["value_num"]).hex(),) for r in rows
    )


# (interval, ewma_interval, send_duplicates, stale_removal, stale min, histogram_size)
_LAWS = [
    (15, 30, True, True, 2, 3),     # heartbeats, stale cuts, reservoir eviction
    (15, 5, True, False, 15, 256),  # heartbeat runs across every gap
    (300, 30, False, False, 15, 8),  # the roll-up: meter chains across data-free windows
    (60, 10, False, True, 0, 1),    # stale at the push's own boundary
    (15, 30, True, True, 0, 1),
]


@pytest.mark.parametrize("law", _LAWS, ids=lambda law: "-".join(map(str, law)))
def test_mapper_equals_oracle_bit_for_bit(rest_cfg, law):
    """In process, no Spark: the crunch mapper over phase-A partials
    gives the oracle's emissions — every row, ``value_num`` bit for bit
    — for each push law, at 7-row and 10000-row Arrow batches. Covers
    reservoirs that evict (more candidates than ``histogram_size`` in a
    life), never-stale keys, and running counts past 2^63."""
    interval, ewma, dups, stale, stale_min, size = law
    lg = dataclasses.replace(
        rest_cfg.log_groups[0], interval=interval, ewma_interval=ewma, send_duplicates=dups,
        stale_removal=stale, stale_treshold_min=stale_min, histogram_size=size,
    )
    for seed in range(3):
        rng = np.random.default_rng(seed)
        rows = _datapoints(lg, rng, n_keys=9, big=seed == 0)
        expect = _canon(aggregate([dict(r) for r in rows], lg))
        table = _crunch_input(lg, rows)
        if seed == 0 and not (stale and stale_min == 0):
            counts = [int(e[6]) for e in expect if e[2] == "count"]
            assert max(counts) >= 2**63, "no running count past 2^63"
        if seed == 0 and size < 256:
            hist = table.filter(pa.compute.equal(table["metric_type"], "histogram"))
            assert max(collections.Counter(hist["key_id"].to_pylist()).values()) > size
        for batch_rows in (7, 10_000):
            got = _canon(
                r for b in _run_mapper(lg, table, batch_rows) for r in b.to_pylist()
            )
            assert got == expect, (law, seed, batch_rows, list((got - expect).items())[:3],
                                   list((expect - got).items())[:3])


def test_mapper_output_batches_are_bounded(rest_cfg):
    """One partition of 300 heartbeat keys (several times the bound in
    emissions) in one Arrow batch: the mapper yields several batches of
    the emission schema, each holding whole keys and at most
    ``_FLUSH_ROWS`` rows plus one key's — a worker never holds a whole
    task's output — and together they are the oracle's rows."""
    lg = dataclasses.replace(rest_cfg.log_groups[0], send_duplicates=True, stale_removal=False)
    rows = _datapoints(lg, np.random.default_rng(7), n_keys=300, gaps=(100,))
    table = _crunch_input(lg, rows)
    batches = _run_mapper(lg, table, table.num_rows)
    assert len(batches) > 1
    seen = set()
    for b in batches:
        assert b.schema == _OUT_SCHEMA
        per_key = collections.Counter(b.column("key_id").to_pylist())
        assert not seen & per_key.keys(), "a key's rows span two batches"
        seen |= per_key.keys()
        assert b.num_rows - max(per_key.values()) < _FLUSH_ROWS, b.num_rows
    out = [r for b in batches for r in b.to_pylist()]
    assert len(out) > 4 * _FLUSH_ROWS
    assert _canon(out) == _canon(aggregate([dict(r) for r in rows], lg))


def test_routed_plan_routes_inside_the_crunch(spark, pages, rest_cfg, apache_cfg):
    """Above the crunch's exchange the routed plan holds the sort and
    ONE Python map, the crunch mapper that also routes: no Catalyst
    projection renders the line (concat_ws) or hashes the sink (md5)."""
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    res = run_pipeline_multi(spark, [rest_cfg, apache_cfg], pages, lookups=lk)
    try:
        plan = res.routed._jdf.queryExecution().executedPlan().toString()
    finally:
        res.partials.unpersist()
    lines = plan.splitlines()
    crunch_exchange = next(i for i, ln in enumerate(lines) if "REPARTITION_BY_NUM" in ln)
    above = "\n".join(lines[:crunch_exchange])
    assert above.count("MapInArrow ") == 1, plan
    assert "md5(" not in above and "concat_ws(" not in above, plan
    assert [f.name for f in res.routed.schema.fields] == list(ROUTED_COLS)


def test_histogram_sum_past_int64_is_exact(rest_cfg):
    """Eleven histogram updates of 9e17 in one window: the reservoir's
    sum passes 2^63. The snapshot's mean is 9e17 and its std_dev 0 (an
    int64 sum wrapped to a mean of -7.77e17), and the crunch's
    value_num bits equal the oracle's."""
    from logmetrics_spark.timemetrics import HistogramState

    big = 9 * 10**17
    h = HistogramState(size=256, alpha=0.15)
    for i in range(11):
        h.offer(0.5 + i, i, big, T0)
    snap = h.snapshot()
    assert (snap["mean"], snap["std_dev"], snap["sample_size"]) == (9e17, 0.0, 11)

    lg = dataclasses.replace(rest_cfg.log_groups[0], send_duplicates=False, stale_removal=False)
    t0 = T0 - T0 % lg.interval  # all eleven in one window
    rows = [dict(key_id="h|histogram", group=lg.name, metric_type="histogram", key_prefix="p",
                 key_suffix="s", tags="", ref_tag="", never_stale=False, ts_sec=t0 + i,
                 value=big, record_id=i) for i in range(11)]
    expect = _canon(aggregate([dict(r) for r in rows], lg))
    got = _canon(r for b in _run_mapper(lg, _crunch_input(lg, rows), 10_000) for r in b.to_pylist())
    assert got == expect
    mean = [e for e in got if e[2] == "mean"]
    assert [float.fromhex(e[7]) for e in mean] == [9e17], mean
