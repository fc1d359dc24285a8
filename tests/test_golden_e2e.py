"""Golden end-to-end: engine routed rows == sequential oracle, and
partition invariance (the north_rule correctness gates)."""

import collections

import pytest

from logmetrics_spark.oracle import run_oracle
from logmetrics_spark.plans.pipeline import run_pipeline
from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf


def _engine_rows(spark, cfg, pages):
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    res = run_pipeline(spark, cfg, pages, io=None, lookups=lk, write=False)
    return collections.Counter(
        (r["line"], r["sink"]) for r in res.routed.collect()
    )


def _oracle_rows(pages_pdf, cfg):
    return collections.Counter(
        (r["line"], r["sink"])
        for r in run_oracle(pages_pdf.to_dict("records"), cfg, {"hosts": gen_hosts_lookup_dict()})
    )


def test_rest_api_routed_row_equality(spark, pages, pages_pdf, rest_cfg):
    expect = _oracle_rows(pages_pdf, rest_cfg)
    assert _engine_rows(spark, rest_cfg, pages) == expect


def test_apache_routed_row_equality(spark, pages, pages_pdf, apache_cfg):
    expect = _oracle_rows(pages_pdf, apache_cfg)
    assert _engine_rows(spark, apache_cfg, pages) == expect


def test_partition_invariance(spark, pages, apache_cfg):
    """Distributed execution must not depend on physical partitioning."""
    one = _engine_rows(spark, apache_cfg, pages.repartition(1))
    many = _engine_rows(spark, apache_cfg, pages.repartition(13))
    assert one == many


def test_fast_path_no_dups_equals_oracle(spark, pages, pages_pdf, rest_cfg):
    """send_duplicates=False triggers the O(updates) crunch fast path;
    the oracle still runs the full per-window scan — equality proves
    the fast path equivalent (stale zero-out boundaries included)."""
    import dataclasses

    for stale in (True, False):
        lgs = tuple(
            dataclasses.replace(
                lg, send_duplicates=False, stale_removal=stale, stale_treshold_min=2
            )
            for lg in rest_cfg.log_groups
        )
        cfg = dataclasses.replace(rest_cfg, log_groups=lgs)
        assert _engine_rows(spark, cfg, pages) == _oracle_rows(pages_pdf, cfg), (
            f"fast-path mismatch (stale_removal={stale})"
        )


def test_per_sink_counts(spark, pages, pages_pdf, rest_cfg):
    eng = _engine_rows(spark, rest_cfg, pages)
    orc = _oracle_rows(pages_pdf, rest_cfg)
    eng_sinks = collections.Counter(s for _, s in eng.elements())
    orc_sinks = collections.Counter(s for _, s in orc.elements())
    assert eng_sinks == orc_sinks
    assert len(eng_sinks) == rest_cfg.settings.push_number


def test_skewed_hot_key_equality(spark, rest_cfg):
    """90% of rest lines hit one hot call bucket (north_rule skew
    requirement): the in-partition combiner must absorb the hot key
    before the shuffle and results must stay partition-invariant and
    oracle-equal."""
    import numpy as np

    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf

    spec = SynthSpec(n_rows=400, time_span_seconds=400, hot_fraction=0.9, n_sites=5)
    pdf = gen_pages_pdf(np.arange(spec.n_rows), spec)
    pages_df = spark.createDataFrame(pdf)
    expect = _oracle_rows(pdf, rest_cfg)
    assert _engine_rows(spark, rest_cfg, pages_df.repartition(16)) == expect
    assert _engine_rows(spark, rest_cfg, pages_df.repartition(1)) == expect


def test_multi_group_single_scan_equality(spark, pages, pages_pdf, rest_cfg, apache_cfg):
    """run_pipeline_multi (one scan, one shuffle, mixed-group crunch)
    must equal the per-config pipelines AND the oracle — and its plan
    must contain exactly one source scan."""
    from logmetrics_spark.plans.pipeline import run_pipeline_multi

    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    res = run_pipeline_multi(spark, [rest_cfg, apache_cfg], pages, lookups=lk)
    got = collections.Counter((r["line"], r["sink"]) for r in res.routed.collect())
    expect = _oracle_rows(pages_pdf, rest_cfg) + _oracle_rows(pages_pdf, apache_cfg)
    assert got == expect

    # single scan: the pages source is read once at RUNTIME. With the
    # lazy crunch bound (r03) the kernel output is cached and consumed
    # by two branches (broadcast max-w subquery + crunch), and the
    # plan string renders the cached relation's build plan — which
    # contains the file scan — once per consumer. So: every FileScan
    # occurrence must sit inside an InMemoryRelation rendering (the
    # cache materializes the scan exactly once), never as a bare
    # re-scan branch.
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pages.write.mode("overwrite").parquet(td)
        src = spark.read.parquet(td)
        plan = (
            run_pipeline_multi(spark, [rest_cfg, apache_cfg], src, lookups=lk)
            .routed._jdf.queryExecution().executedPlan().toString()
        )
        n_scans = plan.count("Scan parquet")
        n_cached = plan.count("InMemoryRelation")
        assert n_scans == max(n_cached, 1), plan


def test_multi_group_without_url_match(spark, pages, pages_pdf, rest_cfg):
    """A group with NO url filter disables the native prefilter (every
    page reaches the kernel) but per-group routing stays exact."""
    import dataclasses

    from logmetrics_spark.plans.pipeline import run_pipeline_multi

    open_lg = dataclasses.replace(
        rest_cfg.log_groups[0], name="rest.open", url_match=None
    )
    open_cfg = dataclasses.replace(rest_cfg, log_groups=(open_lg,))
    res = run_pipeline_multi(spark, [rest_cfg, open_cfg], pages)
    got = collections.Counter((r["line"], r["sink"]) for r in res.routed.collect())
    expect = _oracle_rows(pages_pdf, rest_cfg) + _oracle_rows(pages_pdf, open_cfg)
    assert got == expect


def test_long_gap_heartbeats_equal_oracle(spark, rest_cfg):
    """A long data-free run (240 x 15 s heartbeat windows between two
    updates an hour apart): meter decay and the stale cut equal the
    oracle."""
    import dataclasses

    import pandas as pd

    line = (
        "Jan  1 00:{m:02d}:{s:02d} rest01.example rest_a.api: blah [c:q] (10) "
        "[bnt:1/2] [sql:3/4] [membase:1/2] [memcache:1/2] [other:1/2]"
    )
    pdf = pd.DataFrame(
        [
            ("https://rest01.mynetwork/x", pd.Timestamp("2024-01-01 00:00:00"), b"",
             line.format(m=0, s=1), "en"),
            ("https://rest01.mynetwork/y", pd.Timestamp("2024-01-01 01:00:00"), b"",
             line.format(m=59, s=58), "en"),
        ],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    pages = spark.createDataFrame(pdf)
    for stale, stale_min in ((False, 15), (True, 15), (True, 3)):
        lgs = tuple(
            dataclasses.replace(lg, stale_removal=stale, stale_treshold_min=stale_min)
            for lg in rest_cfg.log_groups
        )
        cfg = dataclasses.replace(rest_cfg, log_groups=lgs)
        eng = _engine_rows(spark, cfg, pages)
        orc = _oracle_rows(pdf, cfg)
        assert eng == orc, (
            f"long-gap mismatch (stale={stale}, min={stale_min}): "
            f"only_engine={list((eng - orc).items())[:3]} "
            f"only_oracle={list((orc - eng).items())[:3]}"
        )


# offsets (s) after 00:00:00 of one rest host's lines, per case: data in
# every 15 s window; data-free runs of 2 to 40 windows; and one of 280
_METER_CASES = {
    "steady": list(range(1, 600, 7)),
    "short_gaps": [1, 20, 80, 140, 170, 620, 640, 1250],
    "long_gap": [1, 20, 4220, 4230],
}


@pytest.mark.parametrize("case", list(_METER_CASES))
def test_meter_rates_equal_oracle_bit_for_bit(spark, rest_cfg, case):
    """The crunch's ``rate._1min/_5min/_15min`` ``value_num`` equals the
    oracle's bit for bit — not only the 4-decimal line — with heartbeats
    (every boundary of every data-free run) and without them (a push
    after a data-free run carries the decay of every window between)."""
    import dataclasses

    import pandas as pd

    from logmetrics_spark.operators.aggregate import crunch
    from logmetrics_spark.operators.fused import fused_partials_multi
    from logmetrics_spark.oracle import aggregate, parse_pages

    line = (
        "Jan  1 {h:02d}:{m:02d}:{s:02d} rest01.example rest_a.api: blah [c:q] (10) "
        "[bnt:1/2] [sql:3/4] [membase:1/2] [memcache:1/2] [other:1/2]"
    )
    pdf = pd.DataFrame(
        [
            (f"https://rest01.mynetwork/{i}", pd.Timestamp("2024-01-01"), b"",
             line.format(h=x // 3600, m=x // 60 % 60, s=x % 60), "en")
            for i, x in enumerate(_METER_CASES[case])
        ],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    hosts = gen_hosts_lookup_dict()

    def rate_bits(rows):
        return {
            (r["key_id"], r["boundary"], r["ending"], r["ts"]): float(r["value_num"]).hex()
            for r in rows if r["ending"].startswith("rate.")
        }

    for dups in (True, False):
        lg = dataclasses.replace(rest_cfg.log_groups[0], send_duplicates=dups, stale_removal=False)
        partials = fused_partials_multi(spark.createDataFrame(pdf), [(lg, hosts)])
        eng = rate_bits(r.asDict() for r in crunch(partials, {lg.name: lg}).collect())
        orc = rate_bits(aggregate(parse_pages(pdf.to_dict("records"), lg, hosts), lg))
        assert len(orc) > 3 * len(_METER_CASES[case]) // 4, "too few rates: test is vacuous"
        diff = {k: (eng.get(k), orc.get(k)) for k in eng.keys() | orc.keys() if eng.get(k) != orc.get(k)}
        assert not diff, f"{case} dups={dups}: {len(diff)} rates differ, e.g. {list(diff.items())[:2]}"


def test_single_config_multi_group_single_scan(spark, pages, pages_pdf, rest_cfg, apache_cfg):
    """ONE config with TWO log groups must route through the
    single-scan path in run_pipeline: oracle equality
    plus the same every-scan-is-cached plan property as
    run_pipeline_multi (r02 scanned the pages table once per group)."""
    import dataclasses
    import tempfile

    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf

    merged = dataclasses.replace(
        rest_cfg, log_groups=tuple(rest_cfg.log_groups) + tuple(apache_cfg.log_groups)
    )
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    res = run_pipeline(spark, merged, pages, lookups=lk, write=False)
    got = collections.Counter((r["line"], r["sink"]) for r in res.routed.collect())
    expect = _oracle_rows(pages_pdf, rest_cfg) + _oracle_rows(pages_pdf, apache_cfg)
    assert got == expect

    with tempfile.TemporaryDirectory() as td:
        pages.write.mode("overwrite").parquet(td)
        src = spark.read.parquet(td)
        plan = (
            run_pipeline(spark, merged, src, lookups=lk, write=False)
            .routed._jdf.queryExecution().executedPlan().toString()
        )
        n_scans = plan.count("Scan parquet")
        n_cached = plan.count("InMemoryRelation")
        assert n_scans == max(n_cached, 1), plan
