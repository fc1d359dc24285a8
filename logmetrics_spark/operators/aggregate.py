"""Aggregate stage: datapoints -> per-key metric emissions (R4 rows).

Two-phase design (SURVEY.md §7.1 step 5) — the crux for both oracle
equality and the N->4N scaling target:

**Phase A — native, salt-safe partial aggregation.** Every reduction
is associative, so Spark's map-side partial aggregation (and AQE skew
splitting) applies before any shuffle:

- meters/counters: ``groupBy(key, window, tick).sum(value)`` — pure
  JVM; EWMA state depends only on per-tick sums, never intra-tick
  order (timemetrics.MeterState);
- histograms: the exp-decay reservoir equals the top-``s`` records by
  deterministic log-priority, so per-partition ``mapInPandas`` keeps at
  most ``s`` candidates per (key, window) locally (an exact combiner:
  top-s of a union == top-s of the union of per-part top-s), bounding
  shuffle volume to ``s * partitions`` rows per (key, window). The
  uniform draw is computed natively (md5/conv, whole-stage codegen);
  only ``log`` runs in numpy, shared bit-for-bit with the oracle.

**Phase B — per-key crunch.** :func:`crunch` hash-partitions the
*partials* (tiny: windows x ticks per key, reservoir candidates capped)
by key, sorts each partition and runs one batched ``mapInArrow``
mapper. The mapper applies ONE emission law to the sorted partial
arrays of a run of whole keys at once, in numpy: no Python loop runs
per key or per emission, and the EWMA and reservoir steps advance all
lives together:

- :func:`_push_law`: per data window, its push, its heartbeats
  (``datapool.go:336-355``) and the stale zero-out and removal
  (``datapool.go:315-334``) that may end the key's life;
- counters and meter counts: cumulative sums over a life;
- meter EWMAs: :func:`_meter_rates` ticks every life in lockstep
  through the ``MeterState`` chain;
- histograms: :func:`_reservoir_snapshots` takes one snapshot per data
  window of the running top-s reservoir; its heartbeats repeat it.

Each output value is formatted once per distinct slot, and the rows
leave as Arrow batches of whole keys. The oracle (``oracle.aggregate``)
walks the same spec window by window through the ``timemetrics`` state
classes; the crunch equals it bit for bit in ``value_num``.

Given the routing ``Settings``, the same mapper also routes what it
emits, so no row-at-a-time stage follows it in the JVM::

    partials -> exchange (group, key_id) -> sort -> mapInArrow:
        emission law (per key run) -> route.route_keyed (sink, metric,
        tags once per key; put line per row) -> routed rows

Without ``Settings`` it yields ``EMISSION_SCHEMA`` rows instead.

Emission spec (epoch-aligned windows ``w = floor(ts / interval)``,
boundary ``B = (w+1)*interval``), per key per window from its first
update window through the globally last window:

1. fold this window's partials into the metric state; tick meters to B
   (every window, data-free ones too: the EWMA bits depend on it);
2. stale: if ``stale_removal`` and ``B - last_update >= threshold`` and
   not ``never_stale`` -> emit zeroed endings at ts=B, drop state (a
   later update recreates the key from scratch, like the reference's
   map delete);
3. push gate: emit a snapshot at ts=last_update iff the key's max
   update time advanced past the previous push (``PushKeysTime``,
   ``datapool.go:336``);
4. else if ``send_duplicates``: emit a duplicate snapshot at synthetic
   ts advanced ``interval`` per repetition (``datapool.go:336-355``;
   deviation: a real push resets the synthetic clock — the reference
   keeps stale bookkeeping forever).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as _np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup, Settings
from ..timemetrics import MeterState, np_format_values, np_priorities, np_uniform_from_hash52
from .datapoints import h52_expr
from .route import KEY_PIECES, ROUTED_SCHEMA, arrow_schema, route_keyed

KEY_COLS = ["key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags", "ref_tag"]

PARTIAL_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, never_stale boolean, "
    "w long, t long, psum long, pmax_ts long, pri double, rid long, val long"
)

EMISSION_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, boundary long, "
    "ending string, ts long, value_num double, value_str string, "
    "is_dup boolean, is_zero boolean"
)


_META_COLS = list(KEY_COLS) + ["never_stale"]


def local_reduce_frame(pdf: pd.DataFrame, lg: LogGroup) -> pd.DataFrame | None:
    """In-memory phase-A reduction of one datapoint frame (must carry
    ``w``, ``t``, ``h52`` columns): per-(key, w, t) sums for
    meters/counters, top-s reservoir candidates per (key, w) for
    histograms. Shared by :func:`partial_stage` and the fused kernel
    — associativity makes any batching sound."""
    if pdf.empty:
        return None
    size = lg.histogram_size
    alpha = lg.histogram_alpha_decay
    hist = pdf[pdf["metric_type"] == "histogram"]
    rest = pdf[pdf["metric_type"] != "histogram"]
    frames = []
    if len(rest):
        sums = _tick_sums(rest)
        sums["pri"] = pd.array([None] * len(sums), dtype="float64")
        sums["rid"] = pd.array([None] * len(sums), dtype="Int64")
        sums["val"] = pd.array([None] * len(sums), dtype="Int64")
        frames.append(sums)
    if len(hist):
        u = np_uniform_from_hash52(hist["h52"].to_numpy())
        hist = hist.assign(pri=np_priorities(hist["ts_sec"].to_numpy(), u, alpha))
        # group rides in the reservoir keys: the crunch segments state
        # on (group, key_id) for exactly this collision, and a future
        # multi-group caller of this shared reducer must not merge two
        # groups' reservoirs through a shared key_id
        grp = hist.groupby(["group", "key_id", "w"], sort=False)
        hist = hist.assign(grp_max_ts=grp["ts_sec"].transform("max"))
        kept = (
            hist.sort_values(["pri", "record_id"], ascending=False)
            .groupby(["group", "key_id", "w"], sort=False)
            .head(size)
        )
        frames.append(
            pd.DataFrame(
                {
                    **{c: kept[c] for c in _META_COLS},
                    "w": kept["w"],
                    "t": 0,
                    "psum": pd.array([None] * len(kept), dtype="Int64"),
                    "pmax_ts": kept["grp_max_ts"],
                    "pri": kept["pri"],
                    "rid": kept["record_id"],
                    "val": kept["value"],
                }
            )
        )
    if not frames:
        return None
    out = pd.concat(frames, ignore_index=True)
    return out[_META_COLS + ["w", "t", "psum", "pmax_ts", "pri", "rid", "val"]]


def _tick_sums(rest: pd.DataFrame) -> pd.DataFrame:
    """Per-(key, w, t) value sums and max ts of meter and counter
    datapoints. A sum must fit the partial's int64 ``psum``: where the
    values could reach 2^63 together (18-digit values pass the parse
    contract, contracts.INT_RE), the sums are also taken exactly, and
    one that leaves int64 raises, naming its key — never a wrapped
    count."""
    agg = {"psum": ("value", "sum"), "pmax_ts": ("ts_sec", "max")}
    v = rest["value"].to_numpy()
    wide = float(_np.abs(v).max()) * len(v) >= 2.0**63
    if wide:
        rest = rest.assign(exact=rest["value"].astype(object))
        agg["exact"] = ("exact", "sum")
    sums = rest.groupby(_META_COLS + ["w", "t"], sort=False, as_index=False).agg(**agg)
    if not wide:
        return sums
    out = ~sums["exact"].map(lambda x: -(2**63) <= x < 2**63)
    if out.any():
        r = sums[out].iloc[0]
        raise ValueError(
            f"the sum of key {r['key_id']!r} (group {r['group']!r}) in window {r['w']}, "
            f"tick {r['t']} is {r['exact']}, outside int64"
        )
    return sums.drop(columns="exact")


def partial_stage(dp: DataFrame, lg: LogGroup) -> DataFrame:
    """Phase A: associative pre-aggregation of raw datapoints.

    Single pass, no shuffle: window/tick assignment and the reservoir
    uniform are native column exprs (codegen, fused with the upstream
    stage), then ONE ``mapInPandas`` local reducer
    combines, per Arrow batch,

    - meters/counters: per-(key, w, t) sums (the map-side combine),
    - histograms: top-s reservoir candidates per (key, w), carrying
      the group max ts (dropped rows still count as updates for push
      gating / staleness).

    The crunch merges partials from different batches/partitions, so
    the local reduction only needs to be *sound* (associative), not
    complete — shuffle volume drops from |datapoints| to
    O(distinct keys x windows) per partition batch.
    """
    interval = lg.interval
    ewma = lg.ewma_interval
    size = lg.histogram_size
    alpha = lg.histogram_alpha_decay

    is_meter = F.col("metric_type") == "meter"
    is_hist = F.col("metric_type") == "histogram"
    enriched = (
        dp.withColumn("w", F.floor(F.col("ts_sec") / interval).cast("long"))
        .withColumn(
            "t",
            F.when(is_meter, F.floor(F.col("ts_sec") / ewma).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .withColumn(
            # deterministic uniform seed (contracts.py r03): md5 of
            # the key mixed with record_id — identical to
            # timemetrics.det_uniform and the fused kernel's numpy mix
            "h52",
            F.when(is_hist, h52_expr(F.col("key_id"), F.col("record_id"))),
        )
    )

    def local_reduce(batches):
        for pdf in batches:
            out = local_reduce_frame(pdf, lg)
            if out is not None:
                yield out

    return enriched.mapInPandas(local_reduce, schema=PARTIAL_SCHEMA)


# The snapshot endings of each metric type, in ``MetricState.snapshot``
# order; an emission's ``ending`` indexes one flat list of all of them.
_ENDINGS = {
    "counter": ("count",),
    "meter": ("count", "rate._1min", "rate._5min", "rate._15min"),
    "histogram": ("min", "max", "mean", "std_dev", "p50", "p75", "p95", "p99", "p999",
                  "sample_size"),
}
_MT_CODE = {mt: i for i, mt in enumerate(_ENDINGS)}  # counter 0, meter 1, histogram 2
_N_END = _np.array([len(e) for e in _ENDINGS.values()])
_END_BASE = _np.cumsum(_N_END) - _N_END
_ENDING_NAMES = pa.array([e for ends in _ENDINGS.values() for e in ends])
_PERCENTILES = (0.50, 0.75, 0.95, 0.99, 0.999)
# emission rows per output batch: the mapper cuts its output between keys,
# so a worker holds at most this many rows (plus one key's) whatever its
# task's size — heartbeat keys fan one partial out to ~70 rows, and
# holding a whole task's output (67k rows at one task per core on
# heartbeat_full) cost ~60 MB per worker, and as many Arrow bytes in
# the JVM
_FLUSH_ROWS = 8192
_OUT_SCHEMA = arrow_schema(EMISSION_SCHEMA)


def log_group_of(lg_by_group: dict[str, LogGroup], group: str) -> LogGroup:
    """A key's own log group, by its ``group`` column: the per-key
    dispatch of the crunch mapper and of the live operator. A group
    missing from the config raises, naming it — never a silently
    dropped key."""
    got = lg_by_group.get(group)
    if got is None:
        raise KeyError(f"unknown log group {group!r}")
    return got


def _starts(change: _np.ndarray) -> _np.ndarray:
    """Start index of every run, given ``change[i]``: row i+1 differs
    from row i."""
    return _np.flatnonzero(_np.r_[True, change])


def _key_starts(frame: pa.Table, cols=("group", "key_id")) -> _np.ndarray:
    """First row of every run of equal ``cols`` in a sorted, non-empty
    frame."""
    n = frame.num_rows
    change = _np.zeros(n - 1, dtype=bool)
    for c in cols:
        col = frame.column(c)
        change |= pc.not_equal(col.slice(1), col.slice(0, n - 1)).to_numpy()
    return _starts(change)


def _push_law(lg: LogGroup, kid, w, pmax, never_stale, glw: int):
    """The reference's push law (``datapool.go:280-355``) for whole keys'
    sorted partials, one entry per data window (a key's partials of one
    ``w``), by the spec in the module docstring. Returns

    - ``ds``: the data window's first partial row; ``dk``: its key;
    - ``B``, ``lu``: its boundary and the key's last update after it
      (the window's max ts: every update of a window postdates all
      earlier windows', so the push gate always opens on a data window);
    - ``death``: the first boundary at which the key is stale — ``now``
      if that is ``B`` itself, and only if it comes before its next data
      window (or the group's last window ``glw``);
    - ``dups``: heartbeats between the push and the next data window
      or the death; ``nb``: the window's boundary rows, the push (or the
      zero-out at ``B``), its heartbeats and a later zero-out;
    - ``life``: the state's incarnation; a window after a death starts
      a new one from scratch."""
    interval = lg.interval
    ds = _starts((kid[1:] != kid[:-1]) | (w[1:] != w[:-1]))
    dk = kid[ds]
    B = (w[ds] + 1) * interval
    lu = _np.maximum.reduceat(pmax, ds)
    last = _np.r_[dk[1:] != dk[:-1], True]
    end = _np.where(last, glw + 1, _np.r_[w[ds][1:], 0]) * interval  # last gap boundary
    stale = lg.stale_removal & ~_np.maximum.reduceat(never_stale, _starts(kid[1:] != kid[:-1]))[dk]
    ceil_b = -(-(lu + lg.stale_treshold_min * 60) // interval) * interval
    death = _np.maximum(B, ceil_b)
    dies = stale & (death <= end)
    now = dies & (death == B)
    if lg.send_duplicates:
        dups = _np.maximum((_np.where(dies, death - interval, end) - B) // interval, 0)
        dups[now] = 0
    else:
        dups = _np.zeros(len(ds), dtype=_np.int64)
    life = _np.cumsum(_np.r_[True, last[:-1] | dies[:-1]]) - 1
    return ds, dk, B, lu, death, now, dups, 1 + dups + (dies & ~now), life


def _frame_law(lg: LogGroup, frame: pa.Table):
    """A group frame's key starts, metric type codes, numpy partial
    columns and :func:`_push_law`.

    ``psum``, ``rid`` and ``val`` are null where the metric type does
    not use them, and a long Arrow column with nulls becomes float64 in
    numpy, rounding integers above 2^53 (an 18-digit counter sum next to
    histogram rows would corrupt). The law dispatches on
    ``metric_type``, never on null-ness, so they are zero-filled."""
    col = {c: pc.fill_null(frame.column(c), 0).to_numpy() if c in ("psum", "rid", "val")
           else frame.column(c).to_numpy()
           for c in ("w", "t", "psum", "pmax_ts", "pri", "rid", "val", "never_stale")}
    ks = _key_starts(frame, ("key_id",))
    kid = _np.repeat(_np.arange(len(ks)), _np.diff(_np.r_[ks, frame.num_rows]))
    mt = _np.array([_MT_CODE[m] for m in frame.column("metric_type").take(ks).to_pylist()])
    law = _push_law(lg, kid, col["w"], col["pmax_ts"], col["never_stale"],
                    frame.column("glw")[0].as_py())
    return ks, mt, col, law


def _meter_rates(lg: LogGroup, life_r, t, psum, windows, rate_life, rate_b):
    """EWMA rates of every meter life at the boundaries ``rate_b`` (of
    lives ``rate_life``), bit-equal to ``MeterState``: each life advances
    through its partial ticks and through EVERY window boundary from its
    first window to ``windows[life]`` — the per-window ``tick_to`` chain
    of the oracle — completing the pending tick as
    ``r + a*(instant - r)`` and then decaying ``* (1-a)**gap`` with the
    factor from Python float pow. Lives tick in lockstep, longest first,
    so step i updates a prefix of the lanes. Returns (3, len(rate_b))."""
    interval, tick = lg.interval, lg.ewma_interval
    w0, w1 = windows
    nw = w1 - w0 + 1
    b_life = _np.repeat(_np.arange(len(w0)), nw)
    b_w = _np.repeat(w0, nw) + _np.arange(nw.sum()) - _np.repeat(_np.cumsum(nw) - nw, nw)
    ev_life = _np.r_[life_r, b_life]
    ev_t = _np.r_[t, (b_w + 1) * interval // tick]
    ev_p = _np.r_[psum, _np.zeros(len(b_life), dtype=psum.dtype)]
    o = _np.lexsort((ev_t, ev_life))
    ev_life, ev_t, ev_p = ev_life[o], ev_t[o], ev_p[o]
    u = _starts((ev_life[1:] != ev_life[:-1]) | (ev_t[1:] != ev_t[:-1]))
    ev_life, ev_t = ev_life[u], ev_t[u]
    instant = _np.add.reduceat(ev_p, u).astype(_np.float64) / float(tick)
    ls = _starts(ev_life[1:] != ev_life[:-1])
    n_ev = _np.diff(_np.r_[ls, len(u)])
    pos = _np.arange(len(u)) - _np.repeat(ls, n_ev)
    gap = ev_t - _np.r_[0, ev_t[:-1]] - 1
    alphas = MeterState(tick_seconds=tick)._alphas()
    gaps, inv = _np.unique(_np.where(pos > 0, gap, 0), return_inverse=True)
    fac = _np.array([[(1.0 - a) ** int(g) if g > 0 else 1.0 for g in gaps.tolist()]
                     for a in alphas])[:, inv]
    lane = _np.empty(len(ls), dtype=_np.int64)
    lane[_np.argsort(-n_ev, kind="stable")] = _np.arange(len(ls))
    step = _np.lexsort((_np.repeat(lane, n_ev), pos))  # events by (pos, lane)
    width = _np.bincount(pos)  # lanes still ticking at each step: a prefix
    off = _np.cumsum(width) - width
    a = _np.array(alphas)[:, None]
    r = _np.zeros((3, len(ls)))
    rates = _np.zeros((3, len(u)))
    for i in range(1, len(width)):
        k = width[i]
        cur = step[off[i]:off[i] + k]
        x = instant[step[off[i - 1]:off[i - 1] + k]]  # the tick being completed
        r[:, :k] = x if i == 1 else r[:, :k] + a * (x - r[:, :k])
        r[:, :k] *= fac[:, cur]
        rates[:, cur] = r[:, :k]
    t0 = int(ev_t.min())
    span = int(ev_t.max()) - t0 + 1
    at = _np.searchsorted(ev_life * span + (ev_t - t0), rate_life * span + (rate_b // tick - t0))
    return rates[:, at]


def _reservoirs(size: int, life_r, order_r, n_windows, pri, rid, val):
    """Each window's reservoir as ``merge_candidates`` leaves it, the
    top-``size`` candidates by (pri, rid, val) of the life so far, as
    (candidate, window) pairs. A life with at most ``size`` candidates
    keeps each from its window on. Fuller lives merge window by window,
    in lockstep: each keeps the ``size`` best ranks seen."""
    first = _np.cumsum(n_windows) - n_windows
    count = _np.bincount(life_r, minlength=len(n_windows))
    stay = _np.where(count[life_r] > size, 0, n_windows[life_r] - order_r)
    cand = [_np.repeat(_np.arange(len(life_r)), stay)]
    win = [_np.repeat(first[life_r] + order_r, stay) + _np.arange(stay.sum())
           - _np.repeat(_np.cumsum(stay) - stay, stay)]
    full = _np.flatnonzero(count > size)
    if len(full):
        c = _np.flatnonzero(count[life_r] > size)
        by_rank = c[_np.lexsort((-val[c], -rid[c], -pri[c], life_r[c]))]  # best first
        lane = _np.searchsorted(full, life_r[by_rank])
        start = _np.searchsorted(lane, _np.arange(len(full)))
        rank = _np.arange(len(c)) - start[lane]
        worst = int(count.max())
        best = _np.full((len(full), size), worst)
        for j in range(int(n_windows[full].max())):
            new = _np.flatnonzero(order_r[by_rank] == j)
            if len(new):
                at = _np.arange(len(new)) - _np.searchsorted(lane[new], lane[new])
                add = _np.full((len(full), int(at.max()) + 1), worst)
                add[lane[new], at] = rank[new]
                best = _np.concatenate([best, add], axis=1)
                best = _np.partition(best, size - 1, axis=1)[:, :size]
            li, k = _np.nonzero((best < worst) & (n_windows[full] > j)[:, None])
            cand.append(by_rank[start[li] + best[li, k]])
            win.append(first[full[li]] + j)
    return _np.concatenate(cand), _np.concatenate(win)


def _reservoir_snapshots(lg: LogGroup, life_r, order_r, n_windows, pri, rid, val):
    """Histogram snapshots of every data window of the given lives,
    bit-equal to ``HistogramState.snapshot`` over :func:`_reservoirs`:
    each window's reservoir is sorted once; its heartbeats repeat it.
    Returns the ten ``_ENDINGS["histogram"]`` columns, one row per
    window, life by life: int64 where the snapshot holds an int."""
    pr, win = _reservoirs(lg.histogram_size, life_r, order_r, n_windows, pri, rid, val)
    o = _np.lexsort((val[pr], win))
    v = val[pr][o]
    n = _np.bincount(win, minlength=int(n_windows.sum()))
    at = _np.cumsum(n) - n
    # exact Python ints where an int64 sum could wrap, as the snapshot's
    wide = float(_np.abs(v).max()) * float(n.max()) >= 2.0**63
    tot = _np.add.reduceat(v.astype(object) if wide else v, at)
    mean = tot.astype(_np.float64) / n
    d = v - _np.repeat(mean, n)
    dd = d * d
    var = _np.zeros(len(n))
    for m in _np.unique(n[n > 1]).tolist():
        sel = _np.flatnonzero(n == m)
        # a row sum over the reservoir's m values: numpy's pairwise
        # order, as in the snapshot's (d * d).sum()
        var[sel] = dd[at[sel][:, None] + _np.arange(m)].sum(axis=1) / (m - 1)
    first_v, last_v = v[at], v[at + n - 1]
    cols = [first_v, last_v, mean, _np.sqrt(var)]
    for p in _PERCENTILES:  # sample_percentile, rank p * (n + 1)
        pos = p * (n + 1)
        k = _np.clip(pos.astype(_np.int64), 1, _np.maximum(n - 1, 1))
        lower, upper = v[at + k - 1].astype(_np.float64), v[at + _np.minimum(k, n - 1)]
        mid = lower + (pos - _np.floor(pos)) * (upper - v[at + k - 1]).astype(_np.float64)
        cols.append(_np.where(pos < 1.0, first_v, _np.where(pos >= n, last_v, mid)))
    return cols + [n]


def _emit(lg: LogGroup, frame: pa.Table, settings: Settings | None) -> pa.RecordBatch:
    """One output batch: the emissions of whole keys of one log group,
    routed by ``route.route_keyed`` when ``settings`` are given.

    Every emission is a (boundary row, ending) pair, and its value a
    slot of one table: the zero, each data window's count and histogram
    snapshot (repeated by the window's dups), and each meter boundary's
    three rates. Only slots are formatted, once each; route reads each
    key's pieces once, at its first partial row."""
    interval = lg.interval
    ks, mt, col, (ds, dk, B, lu, death, now, dups, nb, life) = _frame_law(lg, frame)
    nd = len(ds)
    dmt = mt[dk]

    # boundary rows: the push (or the zero-out at B), its dups, the zero-out
    bw = _np.repeat(_np.arange(nd), nb)
    pos = _np.arange(len(bw)) - _np.repeat(_np.cumsum(nb) - nb, nb)
    is_dup = (pos > 0) & (pos <= dups[bw])
    is_zero = _np.where(pos == 0, now[bw], pos > dups[bw])
    boundary = _np.where(is_zero & (pos > 0), death[bw], B[bw] + pos * interval)
    ts = _np.where(is_zero, boundary, lu[bw] + pos * interval)

    # counts: cumulative sums over each life; int64 unless they could overflow
    psum = col["psum"]
    if float(_np.abs(psum.astype(_np.float64)).sum()) >= 2.0**62:
        psum = psum.astype(object)  # exact Python ints, as the oracle's
    wsum = _np.add.reduceat(psum, ds)
    csum = _np.cumsum(wsum)
    count = csum - (csum - wsum)[_np.flatnonzero(_np.r_[True, life[1:] != life[:-1]])][life]

    # rates: meter boundary rows that are not zero-outs
    row_of = _np.repeat(_np.arange(nd), _np.diff(_np.r_[ds, frame.num_rows]))
    rate_row = (dmt[bw] == 1) & ~is_zero
    rates = _np.zeros((3, 0))
    if rate_row.any():
        rl = life[bw[rate_row]]
        lives, li = _np.unique(rl, return_inverse=True)
        last_w = _np.zeros(len(lives), dtype=_np.int64)
        _np.maximum.at(last_w, li, boundary[rate_row] // interval - 1)
        first_w = col["w"][ds][_np.searchsorted(life, lives)]
        keep = _np.isin(life[row_of], lives)
        rates = _meter_rates(
            lg, _np.searchsorted(lives, life[row_of][keep]), col["t"][keep], psum[keep],
            (first_w, last_w), li, boundary[rate_row],
        )

    # histogram snapshots: one per data window of a histogram key
    hist_w = _np.flatnonzero(dmt == 2)
    hist = [_np.zeros(0, dtype=_np.int64)] * 10
    if len(hist_w):
        hl, hli = _np.unique(life[hist_w], return_inverse=True)
        n_windows = _np.bincount(hli)
        cand = _np.flatnonzero(dmt[row_of] == 2)
        cl = _np.searchsorted(hl, life[row_of[cand]])
        order = _np.searchsorted(hist_w, row_of[cand]) - (_np.cumsum(n_windows) - n_windows)[cl]
        hist = _reservoir_snapshots(
            lg, cl, order, n_windows, col["pri"][cand], col["rid"][cand], col["val"][cand]
        )

    # the value slots, each formatted once
    o_count, o_hist, o_rate = 1, 1 + nd, 1 + nd + 10 * len(hist_w)
    h_str = _np.stack([np_format_values(c) for c in hist], axis=1)
    slot_str = _np.concatenate([["0"], np_format_values(count), h_str.ravel(),
                                np_format_values(rates.T.ravel())])

    # emissions: each boundary row times its key's endings
    n_end = _N_END[dmt[bw]]
    rows = _np.repeat(_np.arange(len(bw)), n_end)
    e = _np.arange(len(rows)) - _np.repeat(_np.cumsum(n_end) - n_end, n_end)
    rw = bw[rows]
    rmt = dmt[rw]
    rate_at = _np.cumsum(rate_row) - 1
    slot = _np.select(
        [is_zero[rows], (rmt == 0) | ((rmt == 1) & (e == 0)), rmt == 1],
        [0, o_count + rw, o_rate + 3 * rate_at[rows] + e - 1],
        o_hist + 10 * _np.searchsorted(hist_w, rw) + e,
    )
    ending = _END_BASE[rmt] + e
    per_row = {"ts": pa.array(ts[rows]),
               "value": pa.array(slot_str, pa.string()).take(pa.array(slot)),
               "is_dup": pa.array(is_dup[rows]), "is_zero": pa.array(is_zero[rows]),
               "boundary": pa.array(boundary[rows])}
    if settings is not None:
        at = pa.array(ks)
        keys = {c: frame.column(c).take(at).combine_chunks() for c in KEY_PIECES}
        return route_keyed(keys, dk[rw], _ENDING_NAMES, ending, per_row, settings)
    h_num = _np.stack([c.astype(_np.float64) for c in hist], axis=1)
    slot_num = _np.concatenate([[0.0], count.astype(_np.float64), h_num.ravel(), rates.T.ravel()])
    take = pa.array(ks[dk[rw]])
    return pa.RecordBatch.from_arrays(
        [frame.column(c).take(take).combine_chunks() for c in KEY_COLS]
        + [per_row["boundary"], _ENDING_NAMES.take(pa.array(ending)), per_row["ts"],
           pa.array(slot_num[slot]), per_row["value"], per_row["is_dup"], per_row["is_zero"]],
        schema=_OUT_SCHEMA,
    )


def _crunch_group(
    lg: LogGroup, frame: pa.Table, settings: Settings | None
) -> Iterator[pa.RecordBatch]:
    """The emissions (routed with ``settings``) of one log group's whole
    keys, cut between keys into batches of at most ``_FLUSH_ROWS`` rows
    plus one key's."""
    ks, mt, _, (_, dk, _, _, _, _, _, nb, _) = _frame_law(lg, frame)
    key_rows = _np.bincount(dk, weights=nb * _N_END[mt[dk]])
    before = _np.cumsum(key_rows) - key_rows
    cuts = _np.r_[ks[_starts(before[1:] // _FLUSH_ROWS != before[:-1] // _FLUSH_ROWS)],
                  frame.num_rows]
    for r0, r1 in zip(cuts[:-1], cuts[1:]):
        yield _emit(lg, frame.slice(r0, r1 - r0), settings)


def make_multi_crunch_mapper(lg_by_group: dict[str, LogGroup], settings: Settings | None = None):
    """Partition-batched phase-B ``mapInArrow`` mapper over MIXED-group
    partials: input sorted by (group, key_id, w, t, rid) within
    hash(group, key_id) partitions; each key runs its own log group's
    law via the ``group`` column, so N groups share ONE shuffle and one
    crunch stage. A (group, key) segment may span Arrow batches, so the
    trailing one of each batch is held back for the next. It yields
    ``EMISSION_SCHEMA`` batches, or with routing ``settings`` the routed
    rows (``route.ROUTED_SCHEMA``) of the same emissions.

    Every frame carries a ``glw`` column, the key's group's global last
    window (see :func:`crunch`), so the bound never needs a driver-side
    collect."""

    def crunch_frame(frame: pa.Table) -> Iterator[pa.RecordBatch]:
        gs = _key_starts(frame, ("group",))
        for g0, g1 in zip(gs, _np.r_[gs[1:], frame.num_rows]):
            lg = log_group_of(lg_by_group, frame.column("group")[int(g0)].as_py())
            yield from _crunch_group(lg, frame.slice(g0, g1 - g0), settings)

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        held = None
        for batch in batches:
            frame = pa.Table.from_batches([batch])
            if held is not None:
                frame = pa.concat_tables([held, frame]).combine_chunks()
            if frame.num_rows == 0:
                continue
            cut = int(_key_starts(frame)[-1])
            if cut:
                yield from crunch_frame(frame.slice(0, cut))
            held = frame.slice(cut)
        if held is not None:
            yield from crunch_frame(held)

    return mapper


def _crunch_input(partials: DataFrame, num_partitions: int | None) -> DataFrame:
    """Hash-partition the partials by key and sort each partition for
    the batched crunch mapper: one task per shuffle partition (one per
    core in every session ``session.get_spark`` builds) unless
    ``num_partitions`` overrides it.

    Each Python task carries a fixed cost in worker CPU whatever it
    does. An identity ``mapInPandas`` on 4 cores, on the same 4 reused
    workers, used 1.58 s of worker CPU at 64 tasks and 0.10 s at 4
    (medians of 5), about 25 ms per task. That is with
    :mod:`logmetrics_spark.worker_guard` in the workers; without it the
    same runs used 6.57 and 0.37 s, about 0.1 s per task. The crunch
    still pays the cost as few times as the cores allow. The former
    4x-shuffle-partitions fan-out was a straggler hedge measured at
    local[8] with speculation on; against it, one task per core cut the
    median pass on a 4-vCPU VM from 4.89 to 3.73 s on heartbeat_full
    and from 5.38 to 4.20 s on batch_rollup (10 interleaved pairs
    each), and was no slower on a 100k-page rollup in 64 files (see
    CHANGES.md). AQE never coalesces an explicit repartition, so this
    count is the crunch's task count."""
    n = num_partitions or int(partials.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return partials.repartition(n, "group", "key_id").sortWithinPartitions(
        "group", "key_id", "w", "t", "rid"
    )


def crunch(
    partials: DataFrame,
    lg_by_group: dict[str, LogGroup],
    num_partitions: int | None = None,
    settings: Settings | None = None,
) -> DataFrame:
    """Phase B: partials of any mix of log groups -> emissions
    (``EMISSION_SCHEMA``), or with routing ``settings`` their routed rows
    (``route.ROUTED_SCHEMA``), one shuffle and one batched mapper (task
    count: see :func:`_crunch_input`).

    Heartbeats and the stale tail need each group's global last window.
    When any group has ``send_duplicates`` or ``stale_removal``, that
    bound is a broadcast join against the one-row-per-group ``max(w)``
    of the partials, so plan construction runs no job and an empty
    input degrades to an empty result through the inner join. Both the
    broadcast subquery and the crunch consume the partials, so they are
    persisted first: the kernel that produced them runs once (the
    caller releases them, see ``plans.pipeline.commit``). Otherwise no
    group reads the bound, and ``glw = -1`` is added after the sort so
    the shuffle carries no extra bytes."""
    if any(lg.send_duplicates or lg.stale_removal for lg in lg_by_group.values()):
        partials = partials.persist()
        gw = partials.groupBy("group").agg(F.max("w").alias("glw"))
        rep = _crunch_input(partials.join(F.broadcast(gw), "group"), num_partitions)
    else:
        rep = _crunch_input(partials, num_partitions).withColumn("glw", F.lit(-1).cast("long"))
    return rep.mapInArrow(
        make_multi_crunch_mapper(lg_by_group, settings),
        schema=EMISSION_SCHEMA if settings is None else ROUTED_SCHEMA,
    )


# perfbench/layers.py still imports these two names; the next benchmark
# change moves it onto ``crunch`` and deletes them
def crunch_emissions_multi(partials, lg_by_group, _last_w_by_group, num_partitions=None):
    return crunch(partials, lg_by_group, num_partitions)


def crunch_emissions_lazy(partials, lg_by_group, num_partitions=None):
    return crunch(partials, lg_by_group, num_partitions)


def aggregate_stage(dp: DataFrame, lg: LogGroup) -> DataFrame:
    """datapoints -> emissions for one log group: phase A
    (:func:`partial_stage`) then :func:`crunch`, one action end to
    end."""
    return crunch(partial_stage(dp, lg), {lg.name: lg})
