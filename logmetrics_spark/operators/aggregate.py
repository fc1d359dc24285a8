"""Aggregate stage: datapoints -> per-key metric emissions (R4 rows).

Two-phase design (SURVEY.md §7.1 step 5) — the crux for both oracle
equality and the N->4N scaling target:

**Phase A — salt-safe partial aggregation.** Every reduction is
associative, so it runs on each Arrow batch before any shuffle:

- meters/counters: per-(key, window, tick) value sums; EWMA state
  depends only on per-tick sums, never intra-tick order
  (timemetrics.MeterState);
- histograms: the exp-decay reservoir equals the top-``s`` records by
  deterministic log-priority, so each Arrow batch keeps at most ``s``
  candidates per (key, window) (an exact combiner: top-s of a union ==
  top-s of the union of per-part top-s), bounding shuffle volume to
  ``s * partitions`` rows per (key, window). The priority is numpy,
  shared bit-for-bit with the oracle (md5 once per distinct key, then
  the exact int64 seed mix of contracts.py).

:func:`reduce_partials` is that reduction, in numpy over key codes,
inside the fused ``mapInArrow`` kernel (operators/fused.py), the
lineage unit kernel and :func:`partial_stage`.

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

The live view runs the same mapper from saved per-key state up to a
closed window (:func:`crunch` with ``state`` and ``bounds``): one law
for batch and live, so live rows are the batch rows at the closed
boundaries.

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

from collections import namedtuple
from collections.abc import Iterator

import numpy as _np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup, Settings
from ..contracts import md5_52_py
from ..timemetrics import MeterState, np_format_values, np_h52, np_priorities, np_uniform_from_hash52
from .datapoints import KEY_FIELDS, MT_CODE, Datapoints
from .route import KEY_PIECES, ROUTED_COLS, ROUTED_SCHEMA, arrow_schema, route_keyed

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


_PARTIAL_ARROW = arrow_schema(PARTIAL_SCHEMA)

# A key's state at a closed boundary, as partial rows (see ``crunch``):
# a counter's or meter's one row, a histogram's reservoir candidates.
# ``pending`` marks a meter's row: the sum of its open EWMA tick; the
# rates ``r1``, ``r5`` and ``r15`` are null until a tick has completed.
_SEED = {"pending": "long", "r1": "double", "r5": "double", "r15": "double"}
STATE_SCHEMA = PARTIAL_SCHEMA + "".join(f", {c} {t}" for c, t in _SEED.items())
STATE_COLS = tuple(arrow_schema(STATE_SCHEMA).names)
# the live crunch's output: routed rows, and state rows with a null
# ``line`` whose ``tags`` are their key's own (route appends ref_tag)
LIVE_SCHEMA = ROUTED_SCHEMA + "".join(
    f", {f}" for f in STATE_SCHEMA.split(", ") if f.split()[0] not in ROUTED_COLS
)
_LIVE_ARROW = arrow_schema(LIVE_SCHEMA)


def reduce_partials(lg: LogGroup, dp: Datapoints) -> pa.RecordBatch:
    """Phase A of one batch of datapoints, in numpy over key codes:

    - meters and counters: per-(key, w, t) value sums (``lexsort``,
      then ``reduceat``) and max ts;
    - histograms: the top-``histogram_size`` reservoir candidates per
      (key, w) by (pri, record_id, value), each with its (key, w)'s max
      ts (dropped candidates still count as updates for push gating
      and staleness).

    The partials leave as one Arrow batch of ``PARTIAL_SCHEMA``, each
    key's strings taken from ``dp.keys``; a further key column (the
    lineage unit) follows. Associative, so any batching is sound: the
    crunch merges partials from every batch and partition. A sum must
    fit the partial's int64 ``psum``: where the values could reach 2^63
    together (18-digit values pass the parse contract,
    contracts.INT_RE), the sums are taken exactly, and one that leaves
    int64 raises, naming its key — never a wrapped count."""
    key, ts = dp.key, dp.ts_sec
    mt = dp.mt[key]
    w = ts // lg.interval
    t = _np.where(mt == 1, ts // lg.ewma_interval, 0)

    s = _np.flatnonzero(mt != 2)
    s = s[_np.lexsort((t[s], w[s], key[s]))]
    ss = _runs(key[s], w[s], t[s])
    v = dp.value[s]
    psum = _np.add.reduceat(v, ss)
    if len(s) and float(_np.abs(v.astype(_np.float64)).max()) * len(v) >= 2.0**63:
        # an int64 sum wraps modulo 2^64, so one that ends inside int64
        # is exact; find any that does not
        for i, x in enumerate(_np.add.reduceat(v.astype(object), ss).tolist()):
            if not -(2**63) <= x < 2**63:
                r = s[ss[i]]
                raise ValueError(
                    f"the sum of key {dp.keys['key_id'][key[r]].as_py()!r} "
                    f"(group {dp.keys['group'][key[r]].as_py()!r}) in window {w[r]}, "
                    f"tick {t[r]} is {x}, outside int64"
                )
    s_max = _np.maximum.reduceat(ts[s], ss)
    s = s[ss]

    h = _np.flatnonzero(mt == 2)
    pri = _np.zeros(len(key))
    if len(h):
        hk = _np.unique(key[h])
        key_h = _np.zeros(len(dp.mt), dtype=_np.int64)
        key_h[hk] = [md5_52_py(k) for k in dp.keys["key_id"].take(pa.array(hk)).to_pylist()]
        u = np_uniform_from_hash52(np_h52(key_h[key[h]], dp.record_id[h]))
        pri[h] = np_priorities(ts[h], u, lg.histogram_alpha_decay)
    # best first within each (key, w): descending on every sort key
    h = h[_np.lexsort((dp.value[h], dp.record_id[h], pri[h], w[h], key[h]))[::-1]]
    hs = _runs(key[h], w[h])
    n = _np.diff(_np.r_[hs, len(h)])
    h_max = _np.repeat(_np.maximum.reduceat(ts[h], hs), n)
    keep = _np.arange(len(h)) - _np.repeat(hs, n) < lg.histogram_size
    h, h_max = h[keep], h_max[keep]

    ns, nh = len(s), len(h)
    rows = _np.r_[s, h]
    at = pa.array(key[rows])
    is_h = _np.r_[_np.zeros(ns, dtype=bool), _np.ones(nh, dtype=bool)]

    def sums(x):  # meter and counter rows only
        return pa.array(_np.r_[x, _np.zeros(nh, dtype=_np.int64)], mask=is_h)

    def cands(x):  # histogram rows only
        return pa.array(_np.r_[_np.zeros(ns, dtype=x.dtype), x], mask=~is_h)

    extra = [c for c in dp.keys if c not in KEY_FIELDS]
    return pa.RecordBatch.from_arrays(
        [dp.keys[c].take(at) for c in KEY_FIELDS]
        + [pa.array(w[rows]), pa.array(t[rows]), sums(psum), pa.array(_np.r_[s_max, h_max]),
           cands(pri[h]), cands(dp.record_id[h]), cands(dp.value[h])]
        + [dp.keys[c].take(at) for c in extra],
        schema=pa.schema(list(_PARTIAL_ARROW) + [(c, dp.keys[c].type) for c in extra]),
    )


def partial_stage(dp: DataFrame, lg: LogGroup) -> DataFrame:
    """Phase A of a datapoint DataFrame (``DATAPOINT_SCHEMA``): one
    ``mapInArrow`` that runs :func:`reduce_partials` on each Arrow batch,
    no shuffle. Shuffle volume drops from |datapoints| to
    O(distinct keys x windows) per partition batch."""

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield reduce_partials(lg, Datapoints.from_arrow(batch))

    return dp.mapInArrow(mapper, schema=PARTIAL_SCHEMA)


# The snapshot endings of each metric type (in MT_CODE order), in
# ``MetricState.snapshot`` order; an emission's ``ending`` indexes one
# flat list of all of them.
_ENDINGS = {
    "counter": ("count",),
    "meter": ("count", "rate._1min", "rate._5min", "rate._15min"),
    "histogram": ("min", "max", "mean", "std_dev", "p50", "p75", "p95", "p99", "p999",
                  "sample_size"),
}
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
    dispatch of the crunch mapper, batch and live. A group missing from
    the config (a live key's saved state included) raises, naming it —
    never a silently dropped key."""
    got = lg_by_group.get(group)
    if got is None:
        raise KeyError(f"unknown log group {group!r}")
    return got


def _starts(change: _np.ndarray) -> _np.ndarray:
    """Start index of every run, given ``change[i]``: row i+1 differs
    from row i."""
    return _np.flatnonzero(_np.r_[True, change])


def _runs(*cols: _np.ndarray) -> _np.ndarray:
    """Start index of every run of equal rows of the sorted, equally
    long ``cols`` (none if they are empty)."""
    if not len(cols[0]):
        return _np.zeros(0, dtype=_np.int64)
    return _starts(_np.logical_or.reduce([c[1:] != c[:-1] for c in cols]))


def _key_starts(frame: pa.Table, cols=("group", "key_id")) -> _np.ndarray:
    """First row of every run of equal ``cols`` in a sorted, non-empty
    frame."""
    n = frame.num_rows
    change = _np.zeros(n - 1, dtype=bool)
    for c in cols:
        col = frame.column(c)
        change |= pc.not_equal(col.slice(1), col.slice(0, n - 1)).to_numpy()
    return _starts(change)


_Law = namedtuple("_Law", "ds dk B lu death now dups nb life skip alive")


def _push_law(lg: LogGroup, kid, w, pmax, never_stale, glw: int, bprev: int | None = None):
    """The reference's push law (``datapool.go:280-355``) for whole keys'
    sorted partials, one entry per data window (a key's partials of one
    ``w``), by the spec in the module docstring:

    - ``ds``: the window's first partial row; ``dk``: its key;
    - ``B``, ``lu``: the window's boundary and the key's last update
      after it (the window's max ts: every update of a window postdates
      all earlier windows', so the push gate always opens on a data
      window);
    - ``death``: the first boundary at which the key is stale — ``now``
      if that is ``B`` itself, and only if it comes before its next data
      window (or the bound ``glw``);
    - ``dups``: heartbeats between the push and the next data window
      or the death; the window's boundary rows are the push (or the
      zero-out at ``B``), its heartbeats and a later zero-out;
    - ``life``: the state's incarnation; a window after a death starts
      a new one from scratch.

    Live, a saved key's first window is the one of its last push, and
    its rows at boundaries up to ``bprev`` were emitted by an earlier
    batch: ``skip`` counts them, and ``nb`` the rows still to emit.
    ``alive`` marks a key's last window if its state outlives ``glw``."""
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
    nb = 1 + dups + (dies & ~now)
    skip = (_np.zeros(len(ds), dtype=_np.int64) if bprev is None
            else _np.clip((bprev - B) // interval + 1, 0, dups + 1))
    return _Law(ds, dk, B, lu, death, now, dups, nb - skip, life, skip, last & ~dies)


def _frame_law(lg: LogGroup, frame: pa.Table, glw: int, bprev: int | None = None):
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
    mt = _np.array([MT_CODE[m] for m in frame.column("metric_type").take(ks).to_pylist()])
    law = _push_law(lg, kid, col["w"], col["pmax_ts"], col["never_stale"], glw, bprev)
    return ks, mt, col, law


def _meter_rates(lg: LogGroup, life_r, t, psum, windows, rate_life, rate_b, seed=None):
    """EWMA rates of every meter life at the boundaries ``rate_b`` (of
    lives ``rate_life``), bit-equal to ``MeterState``: each life advances
    through its partial ticks and through EVERY window boundary from its
    first window to ``windows[life]`` — the per-window ``tick_to`` chain
    of the oracle — completing the pending tick as
    ``r + a*(instant - r)`` and then decaying ``* (1-a)**gap`` with the
    factor from Python float pow. Lives tick in lockstep, longest first,
    so step i updates a prefix of the lanes.

    ``seed`` (rates ``(3, lives)``, NaN where no tick has completed)
    starts each life from a saved EWMA; its first event is then the
    saved open tick. Returns the ``(3, len(rate_b))`` rates, and at each
    of ``rate_b`` the open tick's sum and whether a tick has completed."""
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
    tick_sum = _np.add.reduceat(ev_p, u)
    instant = tick_sum.astype(_np.float64) / float(tick)
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
    done = _np.zeros(len(ls), dtype=bool)  # by lane: a tick has completed
    if seed is not None:
        done[lane] = ~_np.isnan(seed[0])
        r[:, lane] = _np.nan_to_num(seed)
    rates = _np.zeros((3, len(u)))
    rates[:, step[:width[0]]] = r
    for i in range(1, len(width)):
        k = width[i]
        cur = step[off[i]:off[i] + k]
        x = instant[step[off[i - 1]:off[i - 1] + k]]  # the tick being completed
        r[:, :k] = _np.where(done[:k], r[:, :k] + a * (x - r[:, :k]), x) if i == 1 \
            else r[:, :k] + a * (x - r[:, :k])
        r[:, :k] *= fac[:, cur]
        rates[:, cur] = r[:, :k]
    t0 = int(ev_t.min())
    span = int(ev_t.max()) - t0 + 1
    at = _np.searchsorted(ev_life * span + (ev_t - t0), rate_life * span + (rate_b // tick - t0))
    return rates[:, at], tick_sum[at], (pos[at] > 0) | done[lane][ev_life[at]]


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


def _reservoir_snapshots(pr, win, val, n_windows: int):
    """Histogram snapshots of every data window, bit-equal to
    ``HistogramState.snapshot`` over the reservoirs of
    :func:`_reservoirs` (``pr``, ``win``): each window's reservoir is
    sorted once; its heartbeats repeat it. Returns the ten
    ``_ENDINGS["histogram"]`` columns, one row per window, life by life:
    int64 where the snapshot holds an int."""
    o = _np.lexsort((val[pr], win))
    v = val[pr][o]
    n = _np.bincount(win, minlength=n_windows)
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


def _live(cols: dict, n: int) -> pa.RecordBatch:
    """A ``LIVE_SCHEMA`` batch of ``n`` rows: the given columns, the
    others null."""
    return pa.RecordBatch.from_arrays(
        [(cols[f.name].combine_chunks() if isinstance(cols[f.name], pa.ChunkedArray)
          else cols[f.name]) if f.name in cols else pa.nulls(n, f.type) for f in _LIVE_ARROW],
        schema=_LIVE_ARROW,
    )


def _emit(
    lg: LogGroup, frame: pa.Table, settings: Settings | None, glw: int, bprev: int | None = None
) -> Iterator[pa.RecordBatch]:
    """The emissions of whole keys of one log group through window
    ``glw``, routed by ``route.route_keyed`` when ``settings`` are
    given. Live (``bprev`` given), only those at boundaries after
    ``bprev``, routed, then each surviving key's state at ``glw``, both
    as ``LIVE_SCHEMA`` batches.

    Every emission is a (boundary row, ending) pair, and its value a
    slot of one table: the zero, each data window's count and histogram
    snapshot (repeated by the window's dups), and each meter boundary's
    three rates. Only slots are formatted, once each; route reads each
    key's pieces once, at its first partial row."""
    interval = lg.interval
    live = bprev is not None
    ks, mt, col, law = _frame_law(lg, frame, glw, bprev)
    ds, dk, life, nb = law.ds, law.dk, law.life, law.nb
    nd = len(ds)
    dmt = mt[dk]

    # boundary rows: the push (or the zero-out at B), its dups, the zero-out
    bw = _np.repeat(_np.arange(nd), nb)
    pos = _np.arange(len(bw)) - _np.repeat(_np.cumsum(nb) - nb, nb) + law.skip[bw]
    dups = law.dups[bw]
    is_dup = (pos > 0) & (pos <= dups)
    is_zero = _np.where(pos == 0, law.now[bw], pos > dups)
    boundary = _np.where(is_zero & (pos > 0), law.death[bw], law.B[bw] + pos * interval)
    ts = _np.where(is_zero, boundary, law.lu[bw] + pos * interval)

    # counts: cumulative sums over each life; int64 unless they could overflow
    psum = col["psum"]
    if float(_np.abs(psum.astype(_np.float64)).sum()) >= 2.0**62:
        psum = psum.astype(object)  # exact Python ints, as the oracle's
    wsum = _np.add.reduceat(psum, ds)
    csum = _np.cumsum(wsum)
    count = csum - (csum - wsum)[_np.flatnonzero(_np.r_[True, life[1:] != life[:-1]])][life]

    # rates: meter boundary rows that are not zero-outs; live, also each
    # surviving meter key at the bound, for its state
    row_of = _np.repeat(_np.arange(nd), _np.diff(_np.r_[ds, frame.num_rows]))
    rate_row = (dmt[bw] == 1) & ~is_zero
    n_rate = int(rate_row.sum())
    kept_m = _np.flatnonzero(live & law.alive & (dmt == 1))
    rl = _np.r_[life[bw[rate_row]], life[kept_m]]
    rb = _np.r_[boundary[rate_row], _np.full(len(kept_m), (glw + 1) * interval)]
    rates, pend, done = _np.zeros((3, 0)), _np.zeros(0, dtype=_np.int64), _np.zeros(0, dtype=bool)
    if len(rl):
        lives, li = _np.unique(rl, return_inverse=True)
        last_w = _np.zeros(len(lives), dtype=_np.int64)
        _np.maximum.at(last_w, li, rb // interval - 1)
        first = ds[_np.searchsorted(life, lives)]  # each life's first partial row
        first_w = col["w"][first]
        keep = _np.isin(life[row_of], lives)
        ev_p, seed = psum, None
        if live:  # a saved meter's row holds its count; it ticks on from bprev
            saved = pc.is_valid(frame.column("pending")).to_numpy()
            first_w = _np.where(saved[first], bprev // interval - 1, first_w)
            ev_p = _np.where(saved, pc.fill_null(frame.column("pending"), 0).to_numpy(), psum)
            seed = _np.stack([pc.fill_null(frame.column(c), _np.nan).to_numpy()[first]
                              for c in ("r1", "r5", "r15")])
        rates, pend, done = _meter_rates(
            lg, _np.searchsorted(lives, life[row_of][keep]), col["t"][keep], ev_p[keep],
            (first_w, last_w), li, rb, seed,
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
        pr, win = _reservoirs(lg.histogram_size, cl, order, n_windows,
                              col["pri"][cand], col["rid"][cand], col["val"][cand])
        hist = _reservoir_snapshots(pr, win, col["val"][cand], len(hist_w))

    # the value slots, each formatted once
    o_count, o_hist, o_rate = 1, 1 + nd, 1 + nd + 10 * len(hist_w)
    h_str = _np.stack([np_format_values(c) for c in hist], axis=1)
    slot_str = _np.concatenate([["0"], np_format_values(count), h_str.ravel(),
                                np_format_values(rates[:, :n_rate].T.ravel())])

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
        routed = route_keyed(keys, dk[rw], _ENDING_NAMES, ending, per_row, settings)
        yield _live(dict(zip(ROUTED_COLS, routed.columns)), routed.num_rows) if live else routed
    else:
        h_num = _np.stack([c.astype(_np.float64) for c in hist], axis=1)
        slot_num = _np.concatenate([[0.0], count.astype(_np.float64), h_num.ravel(),
                                    rates.T.ravel()])
        take = pa.array(ks[dk[rw]])
        yield pa.RecordBatch.from_arrays(
            [frame.column(c).take(take).combine_chunks() for c in KEY_COLS]
            + [per_row["boundary"], _ENDING_NAMES.take(pa.array(ending)), per_row["ts"],
               pa.array(slot_num[slot]), per_row["value"], per_row["is_dup"], per_row["is_zero"]],
            schema=_OUT_SCHEMA,
        )
    if not live:
        return

    # the state at glw of each key that survives it: a counter's or
    # meter's row in its last data window (the window of its last push,
    # which its heartbeats count from) ...
    kept = _np.flatnonzero(law.alive & (dmt != 2))
    if len(kept):
        m = dmt[kept] == 1
        pending = _np.full(len(kept), None, dtype=object)
        pending[m] = pend[n_rate:]
        r = _np.full((3, len(kept)), _np.nan)
        r[:, m] = _np.where(done[n_rate:], rates[:, n_rate:], _np.nan)
        at = pa.array(ks[dk[kept]])
        cols = {c: frame.column(c).take(at) for c in KEY_COLS + ["never_stale"]}
        cols.update(
            w=pa.array(col["w"][ds[kept]]),
            t=pa.array(_np.where(m, (glw + 1) * interval // lg.ewma_interval, 0)),
            psum=pa.array(count[kept].tolist(), pa.int64()),
            pmax_ts=pa.array(law.lu[kept]),
            pending=pa.array(pending.tolist(), pa.int64()),
            **{c: pa.array(x, from_pandas=True) for c, x in zip(("r1", "r5", "r15"), r)},
        )
        yield _live(cols, len(kept))
    # ... and a histogram's reservoir, as candidates of its last data window
    kept = _np.flatnonzero(law.alive & (dmt == 2))
    if len(kept):
        sel = _np.isin(win, _np.searchsorted(hist_w, kept))
        d = hist_w[win[sel]]
        at = pa.array(cand[pr[sel]])
        cols = {c: frame.column(c).take(at) for c in STATE_COLS}
        cols.update(w=pa.array(col["w"][ds[d]]), pmax_ts=pa.array(law.lu[d]))
        yield _live(cols, len(d))


def _crunch_group(
    lg: LogGroup, frame: pa.Table, settings: Settings | None, glw: int, bprev: int | None = None
) -> Iterator[pa.RecordBatch]:
    """:func:`_emit` of one log group's whole keys, cut between keys
    into batches of at most ``_FLUSH_ROWS`` emissions plus one key's."""
    ks, mt, _, law = _frame_law(lg, frame, glw, bprev)
    key_rows = _np.bincount(law.dk, weights=law.nb * _N_END[mt[law.dk]])
    before = _np.cumsum(key_rows) - key_rows
    cuts = _np.r_[ks[_starts(before[1:] // _FLUSH_ROWS != before[:-1] // _FLUSH_ROWS)],
                  frame.num_rows]
    for r0, r1 in zip(cuts[:-1], cuts[1:]):
        yield from _emit(lg, frame.slice(r0, r1 - r0), settings, glw, bprev)


def _crunch_live(
    lg: LogGroup, frame: pa.Table, settings: Settings, prev: int, closed: int
) -> Iterator[pa.RecordBatch]:
    """Live, one log group's whole keys from their saved state: the
    routed emissions after window ``prev`` through window ``closed``,
    each surviving key's state at ``closed``, and the partials of the
    windows still open, kept as they are for a later batch."""
    is_open = pc.greater(frame.column("w"), closed)
    done = frame.filter(pc.invert(is_open))
    if done.num_rows:
        yield from _crunch_group(lg, done, settings, closed, (prev + 1) * lg.interval)
    rest = frame.filter(is_open)
    if rest.num_rows:
        yield _live({c: rest.column(c) for c in STATE_COLS}, rest.num_rows)


def make_multi_crunch_mapper(lg_by_group: dict[str, LogGroup], settings: Settings | None = None,
                             bounds: dict[str, tuple[int, int]] | None = None):
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
    collect. Live, ``bounds`` gives each group's (prev, closed) windows
    instead, and the mapper yields ``LIVE_SCHEMA`` batches."""

    def crunch_frame(frame: pa.Table) -> Iterator[pa.RecordBatch]:
        gs = _key_starts(frame, ("group",))
        for g0, g1 in zip(gs, _np.r_[gs[1:], frame.num_rows]):
            group = frame.column("group")[int(g0)].as_py()
            lg = log_group_of(lg_by_group, group)
            sub = frame.slice(g0, g1 - g0)
            if bounds is None:
                yield from _crunch_group(lg, sub, settings, sub.column("glw")[0].as_py())
            else:
                yield from _crunch_live(lg, sub, settings, *bounds[group])

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
    state: DataFrame | None = None,
    bounds: dict[str, tuple[int, int]] | None = None,
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
    the shuffle carries no extra bytes.

    **Live**, ``bounds`` maps each group to its ``(prev, closed)``
    windows, and each key continues from its ``state`` at ``prev``
    (``STATE_SCHEMA`` rows riding the same exchange). That state is
    finite: the last update (every data window pushes, so it is also
    the last push, and heartbeats count from it), the count, a meter's
    EWMA and a histogram's top-s reservoir — forward decay fixes each
    priority against a landmark, so top-s of (saved ∪ new) is exact,
    as in phase A. A counter or meter keeps one row in the window of
    its last push, a histogram its reservoir as candidates of that
    window, and the law runs on from there. The mapper routes the
    emissions after ``prev`` through ``closed`` and yields, beside
    them, the state at ``closed`` and the partials of windows still
    open (``LIVE_SCHEMA``)."""
    if bounds is not None:
        rows = partials.select("*", *[F.lit(None).cast(t).alias(c) for c, t in _SEED.items()])
        if state is not None:
            rows = rows.unionByName(state)
        return _crunch_input(rows, num_partitions).mapInArrow(
            make_multi_crunch_mapper(lg_by_group, settings, bounds), schema=LIVE_SCHEMA
        )
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
