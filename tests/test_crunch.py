"""Phase-B crunch: the mapper's emissions equal the oracle's bit for bit
and leave in bounded batches; they must not depend on the crunch's task
count or on where Arrow batch boundaries cut a (group, key_id) segment,
and the crunch must run one task per shuffle partition. Phase A: the
fused kernel's partials of any cut of the pages into Arrow batches
equal a plain-Python reduce of the oracle's datapoints."""

import collections
import dataclasses
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from logmetrics_spark.operators.aggregate import (
    _FLUSH_ROWS,
    _OUT_SCHEMA,
    LIVE_SCHEMA,
    PARTIAL_SCHEMA,
    STATE_COLS,
    STATE_SCHEMA,
    crunch,
    make_multi_crunch_mapper,
    reduce_partials,
)
from logmetrics_spark.operators.datapoints import DATAPOINT_SCHEMA, Datapoints
from logmetrics_spark.operators.fused import fused_partials_multi
from logmetrics_spark.operators.route import ROUTED_COLS, arrow_schema
from logmetrics_spark.oracle import aggregate, route
from logmetrics_spark.plans.pipeline import run_pipeline_multi
from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
_DP_ARROW = arrow_schema(DATAPOINT_SCHEMA)
_PARTIAL_COLS = arrow_schema(PARTIAL_SCHEMA).names


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
    """The crunch mapper's input for ``rows``: phase-A partials
    (``reduce_partials``) of two shuffled halves (so (key, w, t)
    partials repeat), with ``glw``, sorted as ``crunch`` sorts them.
    ``psum``, ``rid`` and ``val`` keep their nulls, as Spark hands them
    to the mapper."""
    rows = [rows[i] for i in np.random.default_rng(0).permutation(len(rows))]
    half = len(rows) // 2
    parts = pa.Table.from_batches([
        reduce_partials(lg, Datapoints.from_arrow(pa.RecordBatch.from_pylist(h, schema=_DP_ARROW)))
        for h in (rows[:half], rows[half:]) if h
    ])
    bound = lg.send_duplicates or lg.stale_removal
    glw = max(r["ts_sec"] for r in rows) // lg.interval if bound else -1
    parts = parts.append_column("glw", pa.array([glw] * parts.num_rows, pa.int64()))
    return parts.sort_by([(c, "ascending") for c in ("group", "key_id", "w", "t", "rid")])


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


def _live_drain(lg, settings, rows, n_cuts, batch_rows):
    """The live crunch mapper, in process, over ``rows`` cut by time
    into ``n_cuts`` micro-batches: each one's partials are crunched
    from the state the one before left, up to the closed window of the
    largest time seen so far. Returns the routed rows and the last
    closed window."""
    rows = sorted(rows, key=lambda r: r["ts_sec"])
    state, prev, routed = None, -1, []
    for cut in np.array_split(np.arange(len(rows)), n_cuts):
        part = [rows[i] for i in cut]
        table = pa.Table.from_batches([reduce_partials(
            lg, Datapoints.from_arrow(pa.RecordBatch.from_pylist(part, schema=_DP_ARROW)))])
        for f in list(arrow_schema(STATE_SCHEMA))[len(_PARTIAL_COLS):]:
            table = table.append_column(f, pa.nulls(table.num_rows, f.type))
        if state is not None:
            table = pa.concat_tables([table, state])
        table = table.sort_by([(c, "ascending") for c in ("group", "key_id", "w", "t", "rid")],
                              null_placement="at_start")
        closed = part[-1]["ts_sec"] // lg.interval - 1
        mapper = make_multi_crunch_mapper({lg.name: lg}, settings, {lg.name: (prev, closed)})
        out = pa.Table.from_batches(
            list(mapper(iter(table.to_batches(max_chunksize=batch_rows)))),
            schema=arrow_schema(LIVE_SCHEMA),
        )
        routed += out.filter(pa.compute.is_valid(out["line"])).select(ROUTED_COLS).to_pylist()
        state = out.filter(pa.compute.is_null(out["line"])).select(STATE_COLS)
        prev = closed
    return routed, prev


@pytest.mark.parametrize("law", _LAWS, ids=lambda law: "-".join(map(str, law)))
def test_live_mapper_equals_oracle_over_closed_windows(rest_cfg, law):
    """In process, no Spark: the live crunch, run micro-batch by
    micro-batch from saved per-key state (1, 3 and 8 cuts by time, at
    7-row and 10000-row Arrow batches), routes exactly the oracle's
    lines at the boundaries up to the last closed window — whatever
    the cuts, for each push law."""
    interval, ewma, dups, stale, stale_min, size = law
    lg = dataclasses.replace(
        rest_cfg.log_groups[0], interval=interval, ewma_interval=ewma, send_duplicates=dups,
        stale_removal=stale, stale_treshold_min=stale_min, histogram_size=size,
    )
    cfg = dataclasses.replace(rest_cfg, log_groups=(lg,))
    for seed in range(2):
        rows = _datapoints(lg, np.random.default_rng(seed), n_keys=9)
        for n_cuts, batch_rows in ((1, 10_000), (3, 7), (8, 10_000)):
            routed, closed = _live_drain(lg, cfg.settings, rows, n_cuts, batch_rows)
            bound = (closed + 1) * interval
            expect = collections.Counter(
                (r["line"], r["sink"]) for r in route(
                    [e for e in aggregate([dict(r) for r in rows], lg) if e["boundary"] <= bound],
                    cfg)
            )
            got = collections.Counter((r["line"], r["sink"]) for r in routed)
            assert got == expect, (law, seed, n_cuts, list((got - expect).items())[:3],
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


def _cut_pages():
    """SynthSpec pages of both fixture groups over 5 minutes, plus two
    pages no group's url matches and an apache page whose second line
    has an invalid response size (dropped line) and a ``-`` size (the
    transform's ``0``)."""
    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf

    pdf = gen_pages_pdf(np.arange(24), SynthSpec(n_rows=24, seed=5, time_span_seconds=300))
    extra = pdf.iloc[:3].copy()
    extra["url"] = ["https://elsewhere.example/a", "https://elsewhere.example/b",
                    "https://www3.apache.example/httpd_access/odd"]
    line = "10.0.0.1\t-\t-\t1/Feb/2024:00:01:{s:02d} +0000\tGET /buy/x HTTP/1.1\t200\t{size}\t-\t-\t7"
    extra["text"] = [REST_TEXT, "nothing to see", "\n".join(
        line.format(s=s, size=size) for s, size in ((1, "12"), (2, "12x"), (3, "-")))]
    rows = pdf.to_dict("records")
    return rows[:8] + extra.to_dict("records")[:2] + rows[8:] + extra.to_dict("records")[2:]


REST_TEXT = (
    "Feb  1 00:02:26 rest1.mynetwork rest_sales.api: [INFO] [performance] "
    "(http-2350-92) [c:session.addItem] [s:d9ea09bf2612060d9] [r:141915]  (34) "
    "[bnt:1/28] [sql:2/1] [membase:0/0] [memcache:4/2] [other:0/0]"
)

def _expected_partials(lg, points):
    """Phase A of oracle datapoints in plain Python: sum and max ts per
    (key, w, t) of meters and counters; the top-s (pri, rid, value)
    per (key, w) of histograms, with the (key, w)'s max ts."""
    from logmetrics_spark.contracts import h52_py, md5_52_py
    from logmetrics_spark.timemetrics import np_priorities, np_uniform_from_hash52

    hist = [d for d in points if d["metric_type"] == "histogram"]
    pri = np_priorities(
        np.array([d["ts_sec"] for d in hist], dtype=np.float64),
        np_uniform_from_hash52(np.array([h52_py(md5_52_py(d["key_id"]), d["record_id"])
                                         for d in hist], dtype=np.float64)),
        lg.histogram_alpha_decay,
    )
    meta = ("key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags", "ref_tag",
            "never_stale")
    sums, tops = {}, {}
    for d in points:
        w = d["ts_sec"] // lg.interval
        if d["metric_type"] == "histogram":
            continue
        t = d["ts_sec"] // lg.ewma_interval if d["metric_type"] == "meter" else 0
        k = tuple(d[c] for c in meta) + (w, t)
        s, m = sums.get(k, (0, d["ts_sec"]))
        sums[k] = (s + d["value"], max(m, d["ts_sec"]))
    for d, p in zip(hist, pri.tolist()):
        k = tuple(d[c] for c in meta) + (d["ts_sec"] // lg.interval, 0)
        tops.setdefault(k, []).append((p, d["record_id"], d["value"], d["ts_sec"]))
    out = collections.Counter(k + (s, m, None, None, None) for k, (s, m) in sums.items())
    for k, cands in tops.items():
        top_ts = max(c[3] for c in cands)
        out.update(k + (None, top_ts, p, r, v)
                   for p, r, v, _ in sorted(cands, reverse=True)[:lg.histogram_size])
    return out


@settings(max_examples=12, deadline=None)
@given(cuts=st.sets(st.integers(1, 26)))
@example(cuts=set(range(1, 27)))
def test_kernel_partials_per_cut_equal_oracle(cuts):
    """In process, no Spark: the same pages cut into Arrow batches (1-page
    batches and batches no group's url matches among them) through the
    fused kernel. Each batch's partials equal a plain-Python sum, max and
    top-s over ``oracle.parse_pages`` of that batch, for both fixture
    groups (shipped profile, so lookup misses read ``unknown``,
    transforms apply and an invalid value drops its line), and the
    crunch routes every cut's partials to the oracle's (line, sink)
    multiset."""
    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.fused import PAGES_BASE_COLS, mask_col, partials_mapper
    from logmetrics_spark.oracle import aggregate as oracle_aggregate
    from logmetrics_spark.oracle import parse_pages, route

    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfgs = [load_config(os.path.join(root, "configs", f)) for f in ("rest_api.toml", "apache.toml")]
    hosts = gen_hosts_lookup_dict()
    # every other site misses the lookup
    hosts = {k: v for i, (k, v) in enumerate(sorted(hosts.items(), key=str)) if i % 2 or k == "__columns__"}
    groups = [(lg, hosts if lg.lookup else None) for c in cfgs for lg in c.log_groups]
    pages = _cut_pages()
    assert len(pages) == 27

    def batch_of(rows):
        cols = {c: [r[c] for r in rows] for c in PAGES_BASE_COLS}
        cols["warc_ts"] = pa.array(pd.Series(cols["warc_ts"]).dt.tz_localize("UTC"),
                                   pa.timestamp("us", tz="UTC"))
        for i, (lg, _) in enumerate(groups):
            cols[mask_col(i)] = [re.search(lg.url_match, r["url"]) is not None for r in rows]
        return pa.RecordBatch.from_pydict(cols)

    mapper = partials_mapper(groups)
    bounds = [0] + sorted(cuts) + [len(pages)]
    parts = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        got = [r for out in mapper(iter([batch_of(pages[a:b])])) for r in out.to_pylist()]
        want = collections.Counter()
        for lg, lk in groups:
            want += _expected_partials(lg, parse_pages(pages[a:b], lg, lk))
        cols = _PARTIAL_COLS
        assert collections.Counter(tuple(r[c] for c in cols) for r in got) == want, (a, b)
        parts += got

    lg_by_group = {lg.name: lg for lg, _ in groups}
    table = pa.Table.from_pylist(parts, schema=arrow_schema(PARTIAL_SCHEMA))
    glw = {g: max(r["w"] for r in parts if r["group"] == g) for g in lg_by_group}
    table = table.append_column("glw", pa.array([glw[g] for g in table["group"].to_pylist()],
                                                pa.int64()))
    table = table.sort_by([(c, "ascending") for c in ("group", "key_id", "w", "t", "rid")])
    crunch_mapper = make_multi_crunch_mapper(lg_by_group, cfgs[0].settings)
    routed = collections.Counter(
        (r["line"], r["sink"]) for b in crunch_mapper(iter(table.to_batches(max_chunksize=500)))
        for r in b.to_pylist()
    )
    want = collections.Counter()
    for cfg in cfgs:
        for lg in cfg.log_groups:
            em = oracle_aggregate(parse_pages(pages, lg, hosts if lg.lookup else None), lg)
            want.update((r["line"], r["sink"]) for r in route(em, cfg))
    assert routed == want
    assert any("unknown" in line for line, _ in routed)
