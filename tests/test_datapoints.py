"""Datapoint fan-out tests: values, scaling, ops, quirk flags
(the executable version of SURVEY.md §2.2 rows)."""

import dataclasses

import pandas as pd

from logmetrics_spark.config import load_config_str
from logmetrics_spark.operators.fused import fused_datapoints

CFG = """
[log_groups.g]
url_match = '^https://x/'
re = ['v=(\\d+)\\sf=(\\S+)\\shost=(\\w+)\\sa=(\\d+)\\sb=(\\d+)']
expected_matches = 5
key_prefix = "t"
default_year = 2024
[log_groups.g.tags]
host = 3
[[log_groups.g.metrics.meter]]
key_suffix = "lines"
reference = [[0, ""]]
[[log_groups.g.metrics.counter]]
key_suffix = "v.sum"
multiply = 10
reference = [[1, "kind=x10"]]
[[log_groups.g.metrics.histogram]]
key_suffix = "f.scaled"
format = "float"
divide = 2
reference = [[2, ""]]
[[log_groups.g.metrics.histogram]]
key_suffix = "diff"
reference = [[4, "k=net", { sub = [5] }], [4, "k=raw"]]
"""


def _mk_pages(spark, text):
    return spark.createDataFrame(
        pd.DataFrame(
            [("https://x/p", pd.Timestamp("2024-02-01 00:00:05"), b"", text, "en")],
            columns=["url", "warc_ts", "html", "text", "lang"],
        )
    )


def test_fanout_values_and_scaling(spark):
    cfg = load_config_str(CFG)
    lg = cfg.log_groups[0]
    assert lg.nb_keys() == 5
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)])
    rows = {(r["key_suffix"], r["ref_tag"]): r for r in dp.collect()}
    assert len(rows) == 5
    assert rows[("lines", "")]["value"] == 1  # position 0 => 1
    assert rows[("v.sum", "kind=x10")]["value"] == 70  # 7 * 10
    assert rows[("f.scaled", "")]["value"] == 4  # int(9.8 / 2)
    assert rows[("diff", "k=net")]["value"] == 70  # 100 - 30
    assert rows[("diff", "k=raw")]["value"] == 100  # independent (fixed quirk)
    assert all(r["tags"] == "host=h1" for r in rows.values())
    assert rows[("lines", "")]["metric_type"] == "meter"
    assert rows[("v.sum", "kind=x10")]["metric_type"] == "counter"


def test_unparseable_value_drops_whole_line(spark):
    cfg = load_config_str(CFG)
    lg = cfg.log_groups[0]
    # f=abc breaks the float reference -> all 5 datapoints dropped
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=abc host=h1 a=1 b=2"), [(lg, None)])
    assert dp.count() == 0


def test_cumulative_ops_compat(spark):
    compat = CFG + "\n[log_groups.g.compat]\ncumulative_ops = true\n"
    lg = load_config_str(compat).log_groups[0]
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)])
    rows = {(r["key_suffix"], r["ref_tag"]): r["value"] for r in dp.collect()}
    # reference quirk: 2nd ref at same position sees 1st ref's result
    assert rows[("diff", "k=net")] == 70
    assert rows[("diff", "k=raw")] == 70


def test_float_noscale_zero_compat(spark):
    compat = CFG + "\n[log_groups.g.compat]\nfloat_noscale_zero = true\n"
    base = compat.replace("divide = 2\n", "")
    lg = load_config_str(base).log_groups[0]
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)])
    rows = {(r["key_suffix"], r["ref_tag"]): r["value"] for r in dp.collect()}
    assert rows[("f.scaled", "")] == 0  # datapool.go:150-155 quirk replayed


def test_negative_guard_drops_line_when_flagged(spark):
    flagged = CFG + "\nwarn_on_operation_fail = true\n"
    # invalid TOML append location — rebuild properly
    flagged = CFG.replace(
        'default_year = 2024', 'default_year = 2024\nwarn_on_operation_fail = true'
    )
    lg = load_config_str(flagged).log_groups[0]
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=10 b=30"), [(lg, None)])
    assert dp.count() == 0  # 10-30 < 0 -> whole line dropped


def test_key_id_and_record_id_deterministic(spark):
    cfg = load_config_str(CFG)
    lg = cfg.log_groups[0]
    dp1 = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)]).collect()
    dp2 = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)]).collect()
    assert sorted(r["record_id"] for r in dp1) == sorted(r["record_id"] for r in dp2)
    from logmetrics_spark.contracts import md5_52_py, record_id_py

    ts = int(pd.Timestamp("2024-02-01 00:00:05").timestamp())
    expect = record_id_py(md5_52_py("https://x/p"), ts, 0)
    assert dp1[0]["record_id"] == expect


def test_int_parse_contract_unified(spark):
    """One int contract across fused/oracle: strip, then strict
    [+-]?digits — ' 7 ' parses, '1_0' and '1 0' do not (ADVICE fix:
    try_cast/fused-fullmatch/int() used to disagree)."""
    import pandas as pd

    from logmetrics_spark.operators.fused import _strict_int
    from logmetrics_spark.oracle import _int_or_none

    vals = [" 7 ", "1_0", "+42", "-3", "1 0", "abc", "9",
            "\t42\t", "\u066b\u0665", "\u0665\u0663", "99999999999999999999",
            "123456789012345678", "\u00a042"]
    # tab-padded parses (ASCII strip set everywhere); unicode digits,
    # 20-digit int64 overflow, and NBSP padding fail EVERYWHERE
    expect = [7, None, 42, -3, None, None, 9,
              42, None, None, None,
              123456789012345678, None]
    fused = _strict_int(pd.Series(vals))
    assert [None if pd.isna(x) else int(x) for x in fused] == expect
    assert [_int_or_none(v) for v in vals] == expect


def test_float_divide_overrides_multiply(spark):
    """ADVICE fix: the reference scales multiply and divide each from
    the RAW float (datapool.go:149-156) — divide overrides multiply
    when both >1. The fused path and the oracle both replay it."""
    both = CFG.replace(
        'format = "float"\ndivide = 2', 'format = "float"\nmultiply = 10\ndivide = 2'
    )
    lg = load_config_str(both).log_groups[0]
    dp = fused_datapoints(_mk_pages(spark, "v=7 f=9.8 host=h1 a=100 b=30"), [(lg, None)])
    rows = {(r["key_suffix"], r["ref_tag"]): r["value"] for r in dp.collect()}
    assert rows[("f.scaled", "")] == 4  # int(9.8 / 2), NOT int(9.8*10/2)

    from logmetrics_spark.oracle import _base_value as oracle_base

    mdef = next(m for m in lg.metrics if m.key_suffix == "f.scaled")
    assert oracle_base(lg, mdef, mdef.references[0], ["", "", "9.8", "", "", ""]) == 4


def test_negative_guard_applies_without_ops(spark):
    """ADVICE fix: warn_on_operation_fail drops plain negative parsed
    values too (datapool.go:203-207 runs after the op loop even with
    no ops)."""
    flagged = CFG.replace(
        'default_year = 2024', 'default_year = 2024\nwarn_on_operation_fail = true'
    ).replace("v=(\\d+)", "v=(-?\\d+)")
    lg = load_config_str(flagged).log_groups[0]
    assert "-?" in lg.regexes[0]  # the regex swap actually happened
    # v=-7 parses fine; no add/sub on the v.sum reference — still dropped
    dp = fused_datapoints(_mk_pages(spark, "v=-7 f=9.8 host=h1 a=100 b=30"), [(lg, None)])
    assert dp.count() == 0
    # sanity: without the flag the same line is kept
    lg0 = load_config_str(CFG.replace("v=(\\d+)", "v=(-?\\d+)")).log_groups[0]
    assert fused_datapoints(_mk_pages(spark, "v=-7 f=9.8 host=h1 a=100 b=30"), [(lg0, None)]).count() == 5


def test_float_parse_contract_unified(spark):
    """One float contract across fused/oracle: strip, plain
    decimal/scientific fullmatch — ' 7.5 ' parses; '1_0', 'inf', '1 0'
    do not (Python float() accepts the first two)."""
    import pandas as pd

    from logmetrics_spark.operators.fused import _strict_float
    from logmetrics_spark.oracle import _float_or_none

    vals = [" 7.5 ", "1_0", "inf", "-3e2", ".5", "5.", "1 0", "abc",
            "\t2.5\n", "\u0665.5"]
    expect = [7.5, None, None, -300.0, 0.5, 5.0, None, None,
              2.5, None]
    fused = _strict_float(pd.Series(vals))
    assert [None if pd.isna(x) else float(x) for x in fused] == expect
    assert [_float_or_none(v) for v in vals] == expect


def test_crunch_exact_above_2_53_with_mixed_metric_types(spark):
    """Arrow->pandas turns a nullable long column into float64 inside
    mapInPandas, rounding ints above 2^53 — a 17-digit counter sum
    sharing a partition batch with histogram rows (null psum) was
    corrupted (10000000000000001 -> 1e16) before the crunch zero-filled
    the type-dependent nullable columns. The parse contract admits
    18-digit ints, so this must stay exact end to end."""
    import dataclasses

    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.aggregate import EMISSION_SCHEMA, PARTIAL_SCHEMA, crunch

    big = 10_000_000_000_000_001  # 17 digits, > 2^53
    lg = load_config("/root/repo/configs/rest_api.toml").log_groups[0]
    lg = dataclasses.replace(lg, send_duplicates=False, stale_removal=False)
    rows = [
        # counter partial with the big sum
        ("k_cnt", lg.name, "counter", "p", "s", "", "", False, 100, 0, big, 1500, None, None, None),
        # histogram partial in the same (group-hashed) batch -> null psum column
        ("k_hist", lg.name, "histogram", "p", "h", "", "", False, 100, 0, None, 1500, 0.5, 7, 42),
    ]
    partials = spark.createDataFrame(rows, PARTIAL_SCHEMA)
    out = crunch(partials, {lg.name: lg}, num_partitions=1)
    assert out.schema.simpleString() == spark.createDataFrame([], EMISSION_SCHEMA).schema.simpleString()
    got = {r["key_id"]: r["value_str"] for r in out.collect() if r["ending"] == "count"}
    assert got["k_cnt"] == str(big), got


BIG_CFG = """
[log_groups.g]
url_match = '^https://x/'
re = ['v=(\\d+)\\shost=(\\w+)']
expected_matches = 2
key_prefix = "t"
default_year = 2024
interval = 15
[log_groups.g.tags]
host = 2
[[log_groups.g.metrics.counter]]
key_suffix = "v.sum"
reference = [[1, ""]]
"""


def test_phase_a_sum_past_int64_raises_and_commits_nothing(spark, tmp_path):
    """Eleven counter updates of 9e17 in one 15 s window (18-digit
    values pass the parse contract): their phase-A sum, 9.9e18, leaves
    the partial's int64 psum. run_pipeline raises, naming the key, and
    commits no routed table, where an int64 sum wrapped to -8.5e18 and
    routed that count."""
    import os

    import pytest

    from logmetrics_spark.oracle import run_oracle
    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.tableio import TableIO

    cfg = load_config_str(BIG_CFG)
    text = "\n".join(["v=900000000000000000 host=h1"] * 11)
    counts = [r["value"] for r in run_oracle(
        [{"url": "https://x/p", "warc_ts": pd.Timestamp("2024-02-01 00:00:05"), "html": b"",
          "text": text, "lang": "en"}], cfg) if r["metric"] == "t.v.sum.count"]
    assert counts[0] == "9900000000000000000"

    out = tmp_path / "out"
    with pytest.raises(Exception, match=r"t\.v\.sum.*9900000000000000000, outside int64"):
        run_pipeline(spark, cfg, _mk_pages(spark, text), io=TableIO(root=str(out)))
    assert not os.path.exists(out / "_lm_manifests" / "routed.json")
    assert not os.path.exists(out / "routed") or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(out / "routed") for f in fs
    )
