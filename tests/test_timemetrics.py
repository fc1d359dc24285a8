"""Metric math unit + property tests (SURVEY.md §5).

Pins the spec: EWMA formula, reservoir top-s equivalence (row path ==
partial path), percentile interpolation, stale/zero semantics.
"""

import math

import pytest

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from logmetrics_spark.timemetrics import (
    CounterState,
    HistogramState,
    MeterState,
    det_uniform,
    format_value,
    np_format_values,
    np_priorities,
    np_uniform_from_hash52,
    sample_percentile,
)


def test_counter_sum_and_zero():
    c = CounterState()
    c.update(10, 5)
    c.update(20, 7)
    assert c.snapshot() == {"count": 12}
    assert c.last_update == 20
    c.zero_out()
    assert c.snapshot()["count"] == 0


def test_meter_ewma_formula():
    m = MeterState(tick_seconds=30)
    # tick 0: 60 events in [0,30) -> instant rate 2/s, initializes EWMAs
    m.update(5, 60)
    m.tick_to(30)
    s = m.snapshot()
    assert s["count"] == 60
    assert s["rate._1min"] == 2.0 == s["rate._5min"] == s["rate._15min"]
    # tick 1: empty -> decay by alpha = 1 - exp(-30/60/m)
    m.tick_to(60)
    s = m.snapshot()
    a1 = 1 - math.exp(-30 / 60 / 1)
    assert abs(s["rate._1min"] - (2.0 + a1 * (0 - 2.0))) < 1e-12
    assert s["rate._5min"] > s["rate._1min"]  # slower window decays less


def test_meter_partial_equals_row_path():
    rows = [(3, 2), (17, 5), (31, 1), (64, 9), (65, 4)]
    a = MeterState(tick_seconds=30)
    for ts, v in rows:
        a.update(ts, v)
    a.tick_to(90)
    b = MeterState(tick_seconds=30)
    # per-tick sums: tick0: 7, tick1: 1, tick2: 13
    b.merge_partial(0, 7, 17)
    b.merge_partial(1, 1, 31)
    b.merge_partial(2, 13, 65)
    b.tick_to(90)
    assert a.snapshot() == b.snapshot()
    assert a.last_update == b.last_update


def test_histogram_reservoir_cap_and_stats():
    h = HistogramState(size=8, alpha=0.0)  # alpha 0: priority = -ln(u) only
    for i in range(100):
        h.update(i, i, "k", i)
    s = h.snapshot()
    assert s["sample_size"] == 8
    assert s["min"] <= s["p50"] <= s["p75"] <= s["p95"] <= s["p99"] <= s["p999"] <= s["max"]


def test_histogram_row_path_equals_candidate_merge():
    vals = [(100 + i, (7 * i) % 50, i) for i in range(40)]  # (ts, value, rid)
    a = HistogramState(size=10, alpha=0.15)
    for ts, v, rid in vals:
        a.update(ts, v, "key", rid)
    from logmetrics_spark.contracts import h52_py, md5_52_py

    u = np_uniform_from_hash52(
        np.array([h52_py(md5_52_py("key"), rid) for _, _, rid in vals], dtype="float64")
    )
    pris = np_priorities(np.array([ts for ts, _, _ in vals], dtype="float64"), u, 0.15)
    b = HistogramState(size=10, alpha=0.15)
    b.merge_candidates(
        [(float(p), rid, v) for p, (_, v, rid) in zip(pris, vals)],
        max(ts for ts, _, _ in vals),
    )
    assert a.snapshot() == b.snapshot()


def test_det_uniform_matches_np_path():
    from logmetrics_spark.contracts import h52_py, md5_52_py

    for key, rid in [("k", 1), ("abc", 99), ("x|y", 12345)]:
        h52 = h52_py(md5_52_py(key), rid)
        assert det_uniform(key, rid) == float(np_uniform_from_hash52(np.array([h52]))[0])


def test_sample_percentile_interpolation():
    vals = [1, 2, 3, 4]
    # go-metrics rank p*(n+1)
    assert sample_percentile(vals, 0.5) == 2.5
    assert sample_percentile(vals, 0.0) == 1
    assert sample_percentile(vals, 1.0) == 4
    assert sample_percentile([7], 0.99) == 7


def test_format_value():
    assert format_value(3) == "3"
    assert format_value(3.0) == "3"
    assert format_value(2.5) == "2.5000"
    assert format_value(0.0) == "0"


_FLOATS = st.one_of(
    st.integers(-(2**20), 2**20).map(lambda k: k / 32),  # exact fifth-decimal ties
    st.integers(-64, 64).map(lambda d: float(2**53 + d)),
    st.integers(-64, 64).map(lambda d: -float(2**53 + d)),
    st.sampled_from([0.0, -0.0, 0.03125, 2.0**53, -(2.0**53)]),
    st.floats(width=64),
)


@given(st.lists(_FLOATS, max_size=40))
@settings(max_examples=300, deadline=None)
def test_np_format_values_equals_format_value_on_floats(vals):
    """The crunch renders ``value_str`` with np_format_values: element
    for element the oracle's format_value, ties (0.03125 -> "0.0312"),
    floats around +-2^53, 0.0 and -0.0 included."""
    assert list(np_format_values(np.array(vals, dtype=np.float64))) == [
        format_value(v) for v in vals
    ]


@given(
    st.lists(st.integers(-(2**63), 2**63 - 1), max_size=40),
    st.lists(st.integers(-(2**80), 2**80), max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_np_format_values_keeps_ints_exact(i64, big):
    """Counts and histogram min/max/sample_size are ints: bare and exact
    at any size, as int64 and as Python ints past int64."""
    assert list(np_format_values(np.array(i64, dtype=np.int64))) == [str(v) for v in i64]
    assert list(np_format_values(np.array(big, dtype=object))) == [format_value(v) for v in big]


def test_np_format_values_examples():
    assert list(np_format_values(np.array([0.03125, -0.0, 2.0**53, 2.5]))) == [
        "0.0312", "0", "9007199254740992.0000", "2.5000",
    ]
    assert list(np_format_values(np.array([2**53 + 1], dtype=np.int64))) == ["9007199254740993"]


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 1_000_000)),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=50, deadline=None)
def test_meter_partial_row_equivalence_property(rows):
    rows = sorted(rows)
    a = MeterState(tick_seconds=30)
    for ts, v in rows:
        a.update(ts, v)
    a.tick_to(10_050)
    b = MeterState(tick_seconds=30)
    ticks = {}
    for ts, v in rows:
        t = ts // 30
        s, m = ticks.get(t, (0, -1))
        ticks[t] = (s + v, max(m, ts))
    for t in sorted(ticks):
        s, m = ticks[t]
        b.merge_partial(t, s, m)
    b.tick_to(10_050)
    assert a.snapshot() == b.snapshot()


@given(st.lists(st.tuples(st.integers(0, 3600), st.integers(0, 10**6)), min_size=1, max_size=300))
@settings(max_examples=50, deadline=None)
def test_reservoir_topk_split_merge_property(rows):
    """top-s(all) == merge(top-s(part1), top-s(part2)) — the combiner law."""
    rids = list(range(len(rows)))
    ts = np.array([r[0] for r in rows], dtype="float64")
    import hashlib

    h52 = np.array(
        [int(hashlib.md5(f"k|{r}".encode()).hexdigest()[:13], 16) for r in rids],
        dtype="float64",
    )
    pris = np_priorities(ts, np_uniform_from_hash52(h52), 0.15)
    cands = [(float(p), rid, v) for p, rid, (_, v) in zip(pris, rids, rows)]

    whole = HistogramState(size=16, alpha=0.15)
    whole.merge_candidates(cands, float(ts.max()))

    split = HistogramState(size=16, alpha=0.15)
    mid = len(cands) // 2
    left = HistogramState(size=16, alpha=0.15)
    right = HistogramState(size=16, alpha=0.15)
    if cands[:mid]:
        left.merge_candidates(cands[:mid], float(ts[:mid].max()) if mid else 0)
    if cands[mid:]:
        right.merge_candidates(cands[mid:], float(ts[mid:].max()))
    split.merge_candidates(left._res, left.last_update)
    split.merge_candidates(right._res, right.last_update)
    assert whole.snapshot() == split.snapshot()


@settings(max_examples=200, deadline=None)
@given(
    ticks=st.lists(
        st.tuples(st.integers(0, 400), st.integers(1, 10_000)), min_size=1, max_size=30
    ),
    tick_seconds=st.sampled_from([5, 30, 3600]),
    boundary_gap=st.integers(0, 50),
)
def test_meter_ewma_closed_form_matches_state(ticks, tick_seconds, boundary_gap):
    """The meter_ewma DuckDB oracle evaluates the EWMA recurrence in
    closed form:

        rate(T_B) = (1-a)^(T_B-1-t_k) * [ I_1 (1-a)^(t_k-t_1)
                     + a * sum_{i>=2} I_i (1-a)^(t_k-t_i) ]

    This property pins that formula against MeterState's actual
    recurrence over random per-tick sums and tick gaps."""
    import math

    from logmetrics_spark.timemetrics import MeterState

    # dedupe tick indices (merge sums), sort
    per_tick: dict = {}
    for t, v in ticks:
        per_tick[t] = per_tick.get(t, 0) + v
    items = sorted(per_tick.items())
    t_last = items[-1][0]
    T_B = t_last + 1 + boundary_gap

    m = MeterState(tick_seconds=tick_seconds)
    for t, v in items:
        m.merge_partial(t, v, float(t * tick_seconds))
    m.tick_to(float(T_B * tick_seconds))
    snap = m.snapshot()

    for minutes, ending in ((1.0, "rate._1min"), (5.0, "rate._5min"), (15.0, "rate._15min")):
        a = 1.0 - math.exp(-tick_seconds / 60.0 / minutes)
        t1 = items[0][0]
        tk = items[-1][0]
        acc = (per_tick[t1] / tick_seconds) * (1.0 - a) ** (tk - t1)
        for t, v in items[1:]:
            acc += a * (v / tick_seconds) * (1.0 - a) ** (tk - t)
        closed = acc * (1.0 - a) ** (T_B - 1 - tk)
        got = snap[ending]
        assert got == pytest.approx(closed, rel=1e-9, abs=1e-300), (
            f"{ending}: state={got} closed={closed}"
        )


def test_seed_mix_uniformity():
    """The r03 multiply-xorshift seed contract must produce reservoir
    uniforms indistinguishable-enough from uniform for exp-decay
    sampling: correlated inputs (same url, consecutive lines/ts; few
    distinct keys) must not bias the u distribution."""
    import numpy as np

    from logmetrics_spark.contracts import h52_py, md5_52_py, record_id_py

    us = []
    keys = [f"apache.req.count|histogram|host=web{k} status=200|" for k in range(3)]
    key_h = [md5_52_py(k) for k in keys]
    for p in range(40):
        ph = md5_52_py(f"https://www{p}.apache.example/httpd_access/x")
        for line in range(50):
            rid = record_id_py(ph, 1700000000 + 15 * line, line)
            for kh in key_h:
                us.append((h52_py(kh, rid) + 1) / 4503599627370497.0)
    u = np.array(us)
    n = len(u)
    assert abs(u.mean() - 0.5) < 0.02
    assert abs(u.var() - 1 / 12) < 0.005
    # coarse chi-square over 16 bins: under uniformity chi2 ~ 15 +- ~5.5;
    # accept < 50 (catches systematic striping, not statistical noise)
    counts, _ = np.histogram(u, bins=16, range=(0, 1))
    chi2 = (((counts - n / 16) ** 2) / (n / 16)).sum()
    assert chi2 < 50, f"chi2={chi2:.1f}, counts={counts}"
    # distinct inputs should essentially never collide (52-bit space)
    assert len(set(us)) == n


def test_seed_mix_bit52_record_id_no_overflow():
    """record_id is reduced mod P = 2^52+21, so values in
    [2^52, 2^52+20] carry BIT 52; without the 52-bit mask the first
    h52 round could exceed int64 (ANSI overflow on Spark, silent wrap
    in numpy). Pin: the python reference stays inside int64 and the
    engine's numpy mix (timemetrics.np_h52, used by the fused kernel
    and the live stream) agrees bit-for-bit at the boundary."""
    import numpy as np

    from logmetrics_spark.contracts import (
        HASH_PRIME, MASK52, SEED_A, SEED_A2, SEED_B, XS, XS2, h52_py, md5_52_py,
    )
    from logmetrics_spark.timemetrics import np_h52

    key_h = md5_52_py("apache.request_time.duration|histogram|host=web1|p95")
    rids = [HASH_PRIME - 1, 1 << 52, (1 << 52) + 20, MASK52, 0]
    # array form (the fused kernel: one key_h per datapoint) and
    # scalar-key form (the live stream: one key per call)
    got_arr = np_h52(np.full(len(rids), key_h, dtype="int64"), np.array(rids, dtype="int64"))
    got_scalar = np_h52(key_h, np.array(rids, dtype="int64"))
    assert got_arr.dtype == np.int64
    for i, rid in enumerate(rids):
        ref = h52_py(key_h, rid)
        assert 0 <= ref < HASH_PRIME
        assert int(got_arr[i]) == ref and int(got_scalar[i]) == ref
        # every intermediate the mix computes fits signed int64
        z = key_h ^ (rid & MASK52)
        zz = z ^ (z >> XS)
        assert SEED_A * zz < 2**63
        w = (SEED_A * zz) % HASH_PRIME
        ww = w ^ (w >> XS2)
        assert SEED_A2 * ww + SEED_B < 2**63
