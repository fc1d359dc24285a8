"""Event-time metric math: Counter, Meter (EWMA), Histogram (exp-decay).

Pure Python, no Spark imports. This single module is used by BOTH
execution paths, which is what makes the engine's correctness gate
meaningful:

- the distributed path: Spark pre-reduces raw datapoints into
  per-(key, window) partials natively (sums / top-s reservoir
  candidates), then a tiny per-key ``applyInPandas`` crunch replays the
  partials through these classes;
- the sequential oracle: feeds raw rows one at a time.

Both paths provably produce identical state because every reduction the
Spark side performs is associative:

- counter/meter: per-tick sums (EWMA state depends only on per-tick
  totals, never on intra-tick order);
- histogram: the exponentially-decayed reservoir of size ``s`` equals
  the top-``s`` records by log-priority ``alpha*(t-landmark) - ln(u)``
  with a *deterministic* uniform ``u`` derived from md5(key|record_id).
  "Keep the s largest priorities" is associative, and in log space the
  reference's rescale operation (a monotone rescaling of all
  priorities, needed only to avoid float underflow:
  ``config.go:477-485``) becomes a provable no-op, so it is dropped.

Semantics reconstructed from the reference's call sites
(``datapool.go:254-267,276,315-355``), the public go-metrics library it
forks (EWMA alpha = 1 - exp(-tick/60/minutes); sample-percentile
interpolation), and the forward-decay paper cited at the reference
``README.md:6``. Event time only — wall clock never enters
(``README.md:27``).

Deliberate spec differences from the reference (documented, test-pinned):

- EWMA ticks and push intervals are *epoch-aligned* tumbling windows
  (``floor(ts / interval)``) instead of first-event-relative; this is
  what makes the computation partition-invariant and replayable.
- Histogram min/max/mean/std_dev/percentiles are all computed over the
  reservoir sample, mirroring go-metrics' Histogram-delegates-to-Sample
  behavior.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

# Reservoir priorities use u ~ Uniform(0,1] derived from md5 so that any
# implementation (pandas UDF, SQL via md5/conv, sequential oracle)
# reproduces the identical sample.
_U_DENOM = float(1 << 52)


def det_uniform(key: str, record_id: int) -> float:
    """Deterministic near-uniform from the r03 seed contract: md5 of
    the KEY (low-cardinality) mixed with the record id via the exact
    multiply-xorshift (contracts.h52_py) — same bits as the native
    h52_expr and the fused kernel's numpy path.

    Range note (ADVICE r03): h52 ranges over [0, P-1] with
    P = 2^52 + 21, so u = (h52+1)/(2^52+1) lies in (0, P/(2^52+1)] —
    the 21 top hash values give u marginally ABOVE 1.0 (p ~ 21/2^52
    per row; log_priority then sees log(u) > 0, a negligible priority
    nudge). Every engine replays the identical bits, so there is no
    cross-engine divergence — the contract is these exact bits, not
    an ideal (0, 1] uniform."""
    from .contracts import h52_py, md5_52_py

    return (h52_py(md5_52_py(key), record_id) + 1) / (_U_DENOM + 1)


def log_priority(alpha: float, ts: float, landmark: float, u: float) -> float:
    """Forward-decay log-priority: larger survives in the reservoir.

    Scalar convenience (unit tests). The engine and the oracle both use
    :func:`np_priorities` so their float bits match exactly.
    """
    return alpha * (ts - landmark) - math.log(u)


def np_priorities(ts_sec, u, alpha: float, landmark: float = 0.0):
    """Vectorized log-priorities (numpy). Both the Spark mapInPandas
    path and the sequential oracle call THIS function, so reservoir
    membership is bit-identical across paths."""
    import numpy as np

    return alpha * (np.asarray(ts_sec, dtype="float64") - landmark) - np.log(
        np.asarray(u, dtype="float64")
    )


def np_uniform_from_hash52(hash52):
    """Map 52-bit md5 prefixes to Uniform(0,1] exactly like
    :func:`det_uniform` (and the JVM's conv(substring(md5..)) path)."""
    import numpy as np

    return (np.asarray(hash52, dtype="float64") + 1.0) / (_U_DENOM + 1.0)


def np_h52(key_h, record_id):
    """Vectorized reservoir seed (contracts.py r03): the exact int64
    multiply-xorshift mix of md5_52(key) and the record id, bit-equal
    to contracts.h52_py and the native h52_expr. Returns int64."""
    import numpy as np

    from .contracts import HASH_PRIME, MASK52, SEED_A, SEED_A2, SEED_B, XS, XS2

    z = np.asarray(key_h, dtype="int64") ^ (np.asarray(record_id, dtype="int64") & MASK52)
    w = (SEED_A * (z ^ (z >> XS))) % HASH_PRIME
    return (SEED_A2 * (w ^ (w >> XS2)) + SEED_B) % HASH_PRIME


def format_value(v: float | int) -> str:
    """Canonical value rendering for routed OpenTSDB lines: integers
    bare, floats with 4 decimals (engine + oracle share this)."""
    if isinstance(v, int):
        return str(v)
    if float(v).is_integer() and abs(v) < 2**53:
        return str(int(v))
    return f"{v:.4f}"


def np_format_values(values):
    """:func:`format_value` over a numpy array, element for element, as
    an object array of str: an int64 array renders bare, an object array
    (Python ints past int64) through :func:`format_value`, and a float64
    array bare where integer-valued below 2^53, else with 4 decimals."""
    import numpy as np

    values = np.asarray(values)
    if values.dtype == object:
        return np.array([format_value(v) for v in values.tolist()] or [], dtype=object)
    if values.dtype.kind in "iu":
        return np.array([str(v) for v in values.tolist()], dtype=object)
    out = np.empty(len(values), dtype=object)
    bare = (values == np.floor(values)) & (np.abs(values) < 2.0**53)
    out[bare] = [str(v) for v in values[bare].astype(np.int64).tolist()]
    out[~bare] = [f"{v:.4f}" for v in values[~bare].tolist()]
    return out


def sample_percentile(sorted_values: list[int], p: float) -> float:
    """go-metrics SamplePercentile: linear interpolation at rank
    ``p * (n + 1)`` over the sorted sample."""
    size = len(sorted_values)
    if size == 0:
        return 0.0
    pos = p * (size + 1)
    if pos < 1.0:
        return float(sorted_values[0])
    if pos >= size:
        return float(sorted_values[-1])
    lower = sorted_values[int(pos) - 1]
    upper = sorted_values[int(pos)]
    return lower + (pos - math.floor(pos)) * (upper - lower)


# --------------------------------------------------------------------------
# metric states
# --------------------------------------------------------------------------


@dataclass
class CounterState:
    """Running sum; emits ``.count`` (reference ``datapool.go:260``)."""

    count: int = 0
    last_update: float = -1.0

    def update(self, ts: float, value: int) -> None:
        self.count += value
        if ts > self.last_update:
            self.last_update = ts

    # Spark partial: per-window sum — identical to a single update.
    merge_partial = update

    def tick_to(self, ts: float) -> None:  # counters don't decay
        pass

    def zero_out(self) -> None:
        self.count = 0

    def snapshot(self) -> dict[str, int | float]:
        return {"count": self.count}


@dataclass
class MeterState:
    """Cumulative count + 1/5/15-minute EWMA rates over event-time
    ticks of ``tick_seconds`` (reference ``datapool.go:263``,
    ``ewma_interval`` default 30, ``config.go:486-488``).

    Ticks are epoch-aligned: tick index = floor(ts / tick_seconds).
    The EWMA for window m minutes uses
    ``alpha_m = 1 - exp(-tick_seconds / 60 / m)`` (go-metrics formula);
    the first tick initializes the rate to the instantaneous rate.
    State depends only on per-tick sums => partition-safe.
    """

    tick_seconds: int
    count: int = 0
    last_update: float = -1.0
    _pending: int = 0  # sum not yet folded into a completed tick
    _cur_tick: int = -1  # tick index currently accumulating
    _rates: list[float] = field(default_factory=lambda: [0.0, 0.0, 0.0])
    _initialized: bool = False

    _MINUTES = (1.0, 5.0, 15.0)

    def _alphas(self) -> tuple[float, float, float]:
        a = getattr(self, "_alpha_cache", None)
        if a is None:
            a = tuple(
                1.0 - math.exp(-self.tick_seconds / 60.0 / m) for m in self._MINUTES
            )
            object.__setattr__(self, "_alpha_cache", a)
        return a

    def _complete_tick(self) -> None:
        instant = self._pending / float(self.tick_seconds)
        if not self._initialized:
            self._rates = [instant, instant, instant]
            self._initialized = True
        else:
            for i, a in enumerate(self._alphas()):
                self._rates[i] += a * (instant - self._rates[i])
        self._pending = 0

    def _advance_to_tick(self, tick: int) -> None:
        if self._cur_tick < 0:
            self._cur_tick = tick
            return
        if tick <= self._cur_tick:
            return
        # complete the tick holding pending data, then fast-forward the
        # remaining all-empty gap in closed form: an empty tick decays
        # each EWMA by (1 - alpha), so k empty ticks multiply by
        # (1 - alpha)^k — O(1) instead of O(gap) (the gap scan was the
        # crunch hotspot: span/ewma_interval completions per key)
        self._complete_tick()
        self._cur_tick += 1
        gap = tick - self._cur_tick
        if gap > 0:
            if self._initialized:
                for i, a in enumerate(self._alphas()):
                    self._rates[i] *= (1.0 - a) ** gap
            self._cur_tick = tick

    def update(self, ts: float, value: int) -> None:
        self._advance_to_tick(int(ts // self.tick_seconds))
        self._pending += value
        self.count += value
        if ts > self.last_update:
            self.last_update = ts

    def merge_partial(self, tick: int, tick_sum: int, max_ts: float) -> None:
        """Fold a per-tick pre-aggregated sum (Spark partial path)."""
        self._advance_to_tick(tick)
        self._pending += tick_sum
        self.count += tick_sum
        if max_ts > self.last_update:
            self.last_update = max_ts

    def tick_to(self, ts: float) -> None:
        """Decay rates through all tick boundaries <= ts (no data)."""
        if self._cur_tick < 0:
            return
        self._advance_to_tick(int(ts // self.tick_seconds))

    def zero_out(self) -> None:
        self.count = 0
        self._rates = [0.0, 0.0, 0.0]
        self._pending = 0

    def snapshot(self) -> dict[str, int | float]:
        # rates reflect completed ticks only; pending accumulates
        return {
            "count": self.count,
            "rate._1min": self._rates[0],
            "rate._5min": self._rates[1],
            "rate._15min": self._rates[2],
        }


@dataclass
class HistogramState:
    """Exponentially-decayed reservoir histogram
    (reference ``datapool.go:256-258``; defaults size=256, alpha=0.15,
    ``config.go:477-485``).

    The reservoir contents equal the top-``size`` records by
    ``log_priority`` — kept as a sorted list of
    ``(log_pri, record_id, value)`` tuples (record_id breaks priority
    ties deterministically).
    """

    size: int
    alpha: float
    landmark: float = 0.0
    last_update: float = -1.0
    _res: list[tuple[float, int, int]] = field(default_factory=list)

    def update(self, ts: float, value: int, key: str, record_id: int) -> None:
        u = det_uniform(key, record_id)
        pri = log_priority(self.alpha, ts, self.landmark, u)
        self.offer(pri, record_id, value, ts)

    def offer(self, pri: float, record_id: int, value: int, ts: float) -> None:
        """Insert a pre-computed candidate (Spark partial path)."""
        item = (pri, record_id, value)
        if len(self._res) < self.size:
            self._res.append(item)
            self._res.sort()
        elif item > self._res[0]:
            self._res[0] = item
            self._res.sort()
        if ts > self.last_update:
            self.last_update = ts

    def merge_candidates(self, candidates: list[tuple[float, int, int]], max_ts: float) -> None:
        """Fold a per-window top-s candidate list (associative merge)."""
        self._res = sorted(self._res + list(candidates))[-self.size :]
        if max_ts > self.last_update:
            self.last_update = max_ts

    def tick_to(self, ts: float) -> None:  # reservoir doesn't decay content
        pass

    def zero_out(self) -> None:
        self._res = []

    def snapshot(self) -> dict[str, int | float]:
        n = len(self._res)
        if n == 0:
            return {
                "min": 0, "max": 0, "mean": 0.0, "std_dev": 0.0,
                "p50": 0.0, "p75": 0.0, "p95": 0.0, "p99": 0.0,
                "p999": 0.0, "sample_size": 0,
            }
        import numpy as np

        values = np.sort(np.fromiter((v for _, _, v in self._res), dtype="int64", count=n))
        vlist = values.tolist()
        # an int64 sum wraps once max|v| * n reaches 2^63: sum the exact
        # Python ints then
        wide = max(-vlist[0], vlist[-1]) * n >= 2**63
        mean = float(sum(vlist) if wide else values.sum()) / n
        if n > 1:
            # Bessel-corrected (n-1) sample variance. NOTE: upstream
            # go-metrics' SampleVariance divides by n (population);
            # whether mathpl's go-timemetrics fork kept that cannot be
            # verified offline — engine, Python oracle, and the
            # hist_moments DuckDB SQL all share THIS (n-1) contract,
            # so the internal gates are unaffected either way. If the
            # fork uses /n, this is a deliberate spec difference in
            # std_dev only (document-level, like the CompatFlags
            # quirks).
            d = values - mean
            var = float((d * d).sum()) / (n - 1)
        else:
            var = 0.0
        return {
            "min": int(values[0]),
            "max": int(values[-1]),
            "mean": mean,
            "std_dev": math.sqrt(var),
            "p50": sample_percentile(vlist, 0.50),
            "p75": sample_percentile(vlist, 0.75),
            "p95": sample_percentile(vlist, 0.95),
            "p99": sample_percentile(vlist, 0.99),
            "p999": sample_percentile(vlist, 0.999),
            "sample_size": n,
        }


def new_state(metric_type: str, lg) -> CounterState | MeterState | HistogramState:
    """Instantiate metric state per config (``datapool.go:254-267``)."""
    if metric_type == "counter":
        return CounterState()
    if metric_type == "meter":
        return MeterState(tick_seconds=lg.ewma_interval)
    if metric_type == "histogram":
        return HistogramState(size=lg.histogram_size, alpha=lg.histogram_alpha_decay)
    raise ValueError(f"unexpected metric type {metric_type!r}")
