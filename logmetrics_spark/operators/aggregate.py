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
by key, sorts each partition and runs one batched ``mapInPandas``
mapper that replays event-time order: EWMA ticking, reservoir merge,
interval push gating (``datapool.go:280-307``), stale zero-out +
removal (``datapool.go:315-334``), duplicate heartbeats
(``datapool.go:336-355``).

Emission spec (epoch-aligned windows ``w = floor(ts / interval)``,
boundary ``B = (w+1)*interval``), per key per window from its first
update window through the globally last window:

1. fold this window's partials into the metric state; tick meters to B;
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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup
from ..timemetrics import format_value, new_state, np_priorities, np_uniform_from_hash52
from .datapoints import h52_expr

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
        sums = rest.groupby(_META_COLS + ["w", "t"], sort=False, as_index=False).agg(
            psum=("value", "sum"), pmax_ts=("ts_sec", "max")
        )
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


def _np_format_values(vals):
    """Vectorized :func:`timemetrics.format_value`: integer-valued
    floats render bare, the rest with 4 decimals."""
    out = _np.char.mod("%.4f", vals).astype(object)
    ints = (vals == _np.floor(vals)) & (_np.abs(vals) < 2.0**53)
    if ints.any():
        out[ints] = vals[ints].astype(_np.int64).astype(str)
    return out


def _gap_emit(lg: LogGroup, metric_type: str, never_stale: bool, state,
              w_from: int, w_to: int, dup_ts, emit, emit_bulk):
    """Vectorized emission for a run of data-free windows
    [w_from, w_to] (full-scan mode): duplicate heartbeats in bulk
    (counter/histogram snapshots are constant across the run; meter
    rates decay in closed form per boundary tick), with the stale
    zero-out cutting the run at the first boundary past the TTL — the
    per-window Python loop over these gaps was >90%% of phase-B time
    on heartbeat-heavy profiles. Returns (state_or_None, dup_ts)."""
    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60

    if (w_to - w_from) < 64:
        # SHORT runs (the common case when keys update steadily): the
        # per-chunk numpy fixed costs (array alloc + string format per
        # tiny chunk x endings) exceed plain per-window appends —
        # measured 4x slower end-to-end when everything bulked. Walk
        # the windows scalar-style; bulk only pays off on long runs
        # (sparse keys heartbeating across a wide retention span).
        for W in range(w_from, w_to + 1):
            B = (W + 1) * interval
            state.tick_to(float(B))
            if (
                lg.stale_removal
                and not never_stale
                and (B - state.last_update) >= stale_secs
            ):
                state.zero_out()
                emit(B, B, state.snapshot(), False, True)
                return None, None
            if lg.send_duplicates:
                dup_ts = (dup_ts if dup_ts is not None else int(state.last_update)) + interval
                emit(B, dup_ts, state.snapshot(), True, False)
        return state, dup_ts

    # ULP note: this bulk path computes each window's meter rate as
    # r1 * (1-a)^(ticks_i - c0 - 1) — ONE pow from the completed state
    # — while the oracle (and the scalar branch above) chain per-window
    # _advance_to_tick jumps. The chains agree to ~1e-15 relative but
    # are not bitwise identical; the %.4f line rendering absorbs the
    # difference except when a rate sits within ~1 ulp of a 0.00005
    # rounding boundary (~1e-11 per emission — accepted, documented).
    bs = (_np.arange(w_from, w_to + 1, dtype=_np.int64) + 1) * interval
    cut = len(bs)
    zero_b = None
    if lg.stale_removal and not never_stale:
        stale_mask = (bs - state.last_update) >= stale_secs
        if stale_mask.any():
            k = int(_np.argmax(stale_mask))
            zero_b = int(bs[k])
            cut = k

    if lg.send_duplicates and cut > 0:
        d0 = dup_ts if dup_ts is not None else int(state.last_update)
        ts_arr = d0 + interval * _np.arange(1, cut + 1, dtype=_np.int64)
        dup_ts = int(ts_arr[-1])
        dup_bs = bs[:cut]
        if metric_type == "meter":
            ticks = dup_bs // lg.ewma_interval
            c0 = state._cur_tick
            adv = ticks > c0
            exps = _np.where(adv, ticks - c0 - 1, 0).astype(_np.float64)
            instant = state._pending / float(state.tick_seconds)
            alphas = state._alphas()
            if state._initialized:
                r1 = [r + a * (instant - r) for r, a in zip(state._rates, alphas)]
            else:
                r1 = [instant] * 3
            for ending, r0v, r1v, a in zip(
                ("rate._1min", "rate._5min", "rate._15min"), state._rates, r1, alphas
            ):
                rates = _np.where(adv, r1v * (1.0 - a) ** exps, r0v)
                emit_bulk(dup_bs, ts_arr, ending, rates, True, False)
            emit_bulk(dup_bs, ts_arr, "count", _np.full(cut, float(state.count)), True, False)
        elif metric_type == "counter":
            emit_bulk(dup_bs, ts_arr, "count", _np.full(cut, float(state.count)), True, False)
        else:  # histogram: reservoir untouched by empty windows
            for ending, v in state.snapshot().items():
                emit_bulk(dup_bs, ts_arr, ending, _np.full(cut, float(v)), True, False)

    if zero_b is not None:
        state.tick_to(float(zero_b))
        state.zero_out()
        emit(zero_b, zero_b, state.snapshot(), False, True)
        return None, None
    state.tick_to(float(bs[-1]))
    return state, dup_ts


def _crunch_one_key(lg: LogGroup, global_last_w: int, metric_type: str,
                    never_stale: bool, w, t, psum, pmax, pri, rid, val, emit,
                    emit_bulk):
    """Replay one key's partials through its metric state, emitting at
    window boundaries per the spec in the module docstring. Operates on
    numpy slices (sorted by (w, t)); called from the partition mapper.
    Data-free window runs route through :func:`_gap_emit` (bulk)."""
    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60

    starts = _np.unique(w, return_index=True)[1]
    segs = list(zip(starts, list(starts[1:]) + [len(w)]))

    state = None
    last_push_maxts = None
    dup_ts = None

    def stale_boundary(last_update: float) -> int:
        b = last_update + stale_secs
        return int(-(-b // interval) * interval)  # ceil to boundary

    def merge_seg(s0: int, s1: int) -> None:
        if metric_type == "meter":
            for j in range(s0, s1):
                state.merge_partial(int(t[j]), int(psum[j]), float(pmax[j]))
        elif metric_type == "counter":
            for j in range(s0, s1):
                state.update(float(pmax[j]), int(psum[j]))
        else:
            cands = [(float(pri[j]), int(rid[j]), int(val[j])) for j in range(s0, s1)]
            state.merge_candidates(cands, float(pmax[s0:s1].max()))

    full_scan = lg.send_duplicates
    if full_scan:
        prev_w = None
        for s0, s1 in list(segs) + [(None, None)]:
            W = int(w[s0]) if s0 is not None else None
            if state is not None and prev_w is not None:
                gap_to = (W - 1) if W is not None else global_last_w
                if gap_to >= prev_w + 1:
                    state, dup_ts = _gap_emit(
                        lg, metric_type, never_stale, state,
                        prev_w + 1, gap_to, dup_ts, emit, emit_bulk,
                    )
            if W is None:
                break
            B = (W + 1) * interval
            if state is None:
                state = new_state(metric_type, lg)
                last_push_maxts = None
                dup_ts = None
            merge_seg(s0, s1)
            state.tick_to(float(B))
            if (
                lg.stale_removal
                and not never_stale
                and (B - state.last_update) >= stale_secs
            ):
                state.zero_out()
                emit(B, B, state.snapshot(), False, True)
                state = None
                prev_w = W
                continue
            if last_push_maxts is None or state.last_update > last_push_maxts:
                emit(B, int(state.last_update), state.snapshot(), False, False)
                last_push_maxts = state.last_update
                dup_ts = None
            else:
                dup_ts = (dup_ts if dup_ts is not None else int(state.last_update)) + interval
                emit(B, dup_ts, state.snapshot(), True, False)
            prev_w = W
        return

    for s0, s1 in segs:
        W = int(w[s0])
        B = (W + 1) * interval
        if (
            lg.stale_removal
            and not never_stale
            and state is not None
        ):
            b_star = stale_boundary(state.last_update)
            if b_star < B:  # staleness fired in the gap before W
                state.tick_to(float(b_star))
                state.zero_out()
                emit(b_star, b_star, state.snapshot(), False, True)
                state = None
        if state is None:
            state = new_state(metric_type, lg)
            last_push_maxts = None
            dup_ts = None
        merge_seg(s0, s1)
        state.tick_to(float(B))

        if (
            lg.stale_removal
            and not never_stale
            and (B - state.last_update) >= stale_secs
        ):
            state.zero_out()
            emit(B, B, state.snapshot(), False, True)
            state = None
            continue

        if last_push_maxts is None or state.last_update > last_push_maxts:
            emit(B, int(state.last_update), state.snapshot(), False, False)
            last_push_maxts = state.last_update
            dup_ts = None

    # fast-path tail: staleness firing after the last update window
    if (
        lg.stale_removal
        and not never_stale
        and state is not None
    ):
        b_star = stale_boundary(state.last_update)
        if b_star <= (global_last_w + 1) * interval:
            state.tick_to(float(b_star))
            state.zero_out()
            emit(b_star, b_star, state.snapshot(), False, True)


_META = list(KEY_COLS)  # single source of truth for emission metadata order
# emission rows per output frame: the mapper flushes inside its key loop,
# so a worker holds at most this many rows (plus one key's) whatever its
# task's size — heartbeat keys fan one partial out to ~70 rows, and
# holding a whole task's output (67k rows at one task per core on
# heartbeat_full) cost ~60 MB per worker, and as many Arrow bytes in
# the JVM
_FLUSH_ROWS = 8192
_OUT_COLS = _META + ["boundary", "ending", "ts", "value_num", "value_str", "is_dup", "is_zero"]


def log_group_of(lg_by_group: dict[str, LogGroup], group: str) -> LogGroup:
    """A key's own log group, by its ``group`` column: the per-key
    dispatch of the crunch mapper and of the live operator. A group
    missing from the config raises, naming it — never a silently
    dropped key."""
    got = lg_by_group.get(group)
    if got is None:
        raise KeyError(f"unknown log group {group!r}")
    return got


def make_multi_crunch_mapper(lg_by_group: dict[str, LogGroup]):
    """Partition-batched phase-B mapper over MIXED-group partials:
    input sorted by (group, key_id, w, t, rid) within hash(group,
    key_id) partitions; each key dispatches to its own log group's
    emission parameters via the ``group`` column, so N groups share ONE
    shuffle and one crunch stage. Iterating keys with numpy
    segmentation amortizes per-key overhead across the whole Arrow
    batch (per-group applyInPandas calls cost ~ms per key).

    Every frame carries a ``glw`` column, the key's group's global last
    window (see :func:`crunch`), so the bound never needs a driver-side
    collect."""

    def process_frame(pdf: pd.DataFrame, acc: dict) -> Iterator[pd.DataFrame]:
        # segment by (group, key_id): two groups may legitimately share
        # a key_prefix and therefore a key_id — their states must not
        # merge (each group has its own emission parameters AND its own
        # series; the oracle keys state on (group, key) too)
        keys = (pdf["group"] + "\x00" + pdf["key_id"]).to_numpy()
        starts = _np.unique(keys, return_index=True)[1]
        starts = _np.sort(starts)
        bounds = list(starts) + [len(pdf)]
        w = pdf["w"].to_numpy()
        t = pdf["t"].to_numpy()
        psum = pdf["psum"].to_numpy()
        pmax = pdf["pmax_ts"].to_numpy()
        pri = pdf["pri"].to_numpy()
        rid = pdf["rid"].to_numpy()
        val = pdf["val"].to_numpy()
        ns = pdf["never_stale"].to_numpy()
        glw = pdf["glw"].to_numpy()
        meta_arrays = {c: pdf[c].to_numpy() for c in _META}
        for k0, k1 in zip(bounds[:-1], bounds[1:]):
            meta = tuple(meta_arrays[c][k0] for c in _META)
            metric_type = meta[2]
            lg = log_group_of(lg_by_group, meta[1])  # per-key group dispatch
            global_last_w = int(glw[k0])
            n_before = len(acc["ending"])

            def emit(boundary, ts, snap, is_dup, is_zero):
                for ending, v in snap.items():
                    if is_zero:
                        v = 0
                    acc["boundary"].append(boundary)
                    acc["ending"].append(ending)
                    acc["ts"].append(int(ts))
                    acc["value_num"].append(float(v))
                    acc["value_str"].append(format_value(v))
                    acc["is_dup"].append(is_dup)
                    acc["is_zero"].append(is_zero)

            def emit_bulk(boundaries, ts_arr, ending, values, is_dup, is_zero):
                n = len(boundaries)
                if n == 0:
                    return
                b = acc["_bulk"]
                b["boundary"].append(boundaries)
                b["ending"].append(_np.full(n, ending, dtype=object))
                b["ts"].append(ts_arr)
                b["value_num"].append(values)
                b["value_str"].append(_np_format_values(values))
                b["is_dup"].append(_np.full(n, is_dup, dtype=bool))
                b["is_zero"].append(_np.full(n, is_zero, dtype=bool))
                acc["_bulk_meta"].append((meta, n))
                acc["_bulk_rows"] += n

            _crunch_one_key(
                lg, global_last_w, metric_type, bool(ns[k0:k1].max()),
                w[k0:k1], t[k0:k1], psum[k0:k1], pmax[k0:k1],
                pri[k0:k1], rid[k0:k1], val[k0:k1], emit, emit_bulk,
            )
            n_new = len(acc["ending"]) - n_before
            for c, v in zip(_META, meta):
                acc[c].extend([v] * n_new)
            if len(acc["ending"]) + acc["_bulk_rows"] >= _FLUSH_ROWS:
                yield _flush(acc)
                acc.update(_new_acc())

    _BULK_COLS = ["boundary", "ending", "ts", "value_num", "value_str", "is_dup", "is_zero"]

    def _new_acc():
        return {
            **{c: [] for c in _OUT_COLS},
            "_bulk": {c: [] for c in _BULK_COLS},
            "_bulk_meta": [],
            "_bulk_rows": 0,
        }

    def _flush(acc) -> pd.DataFrame | None:
        frames = []
        if len(acc["ending"]):
            frames.append(pd.DataFrame({c: acc[c] for c in _OUT_COLS}))
        if acc["_bulk_meta"]:
            counts = [n for _, n in acc["_bulk_meta"]]
            data = {}
            for i, c in enumerate(_META):
                data[c] = _np.repeat(
                    _np.array([m[i] for m, _ in acc["_bulk_meta"]], dtype=object), counts
                )
            for c in _BULK_COLS:
                data[c] = _np.concatenate(acc["_bulk"][c])
            frames.append(pd.DataFrame({c: data[c] for c in _OUT_COLS}))
        if not frames:
            return None
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    def mapper(batches):
        acc = _new_acc()
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if pdf.empty:
                continue
            keys = (pdf["group"] + "\x00" + pdf["key_id"]).to_numpy()
            # hold back the (possibly batch-spanning) trailing
            # (group, key) segment
            n_tail = int((keys == keys[-1]).sum())
            cut = len(pdf) - n_tail
            if cut > 0:
                yield from process_frame(pdf.iloc[:cut], acc)
            pending = pdf.iloc[cut:]
        if pending is not None and len(pending):
            yield from process_frame(pending, acc)
        out = _flush(acc)
        if out is not None:
            yield out

    return mapper


def _null_safe_partials(partials: DataFrame) -> DataFrame:
    """Coalesce the metric-type-dependent nullable long columns to 0.

    Arrow->pandas converts a long column WITH nulls to float64 inside
    ``mapInPandas``, silently rounding integers above 2^53 — and the
    parse contract admits 18-digit values (contracts.INT_RE), so a
    17-digit counter sum sharing a partition batch with histogram rows
    (whose psum is null) would corrupt (verified: 10000000000000001
    arrives as 1e16). The crunch dispatches on ``metric_type``, never
    on null-ness, so zero-filling is semantics-free; with no nulls the
    columns cross Arrow as exact int64."""
    return (
        partials.withColumn("psum", F.coalesce("psum", F.lit(0).cast("long")))
        .withColumn("rid", F.coalesce("rid", F.lit(0).cast("long")))
        .withColumn("val", F.coalesce("val", F.lit(0).cast("long")))
    )


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
) -> DataFrame:
    """Phase B: partials of any mix of log groups -> emissions, one
    shuffle and one batched mapper (task count: see
    :func:`_crunch_input`).

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
        rep = _crunch_input(
            _null_safe_partials(partials).join(F.broadcast(gw), "group"), num_partitions
        )
    else:
        rep = _crunch_input(_null_safe_partials(partials), num_partitions).withColumn(
            "glw", F.lit(-1).cast("long")
        )
    return rep.mapInPandas(make_multi_crunch_mapper(lg_by_group), schema=EMISSION_SCHEMA)


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
