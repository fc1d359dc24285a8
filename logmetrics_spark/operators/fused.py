"""Fused single-kernel pipeline: pages -> phase-A partials in ONE
``mapInArrow`` pass.

A plan that parsed in one kernel and fanned out natively would cross
the JVM<->Python Arrow socket twice, the second time carrying the
13x-exploded datapoint stream — the widest data in the whole job (on
a 32-thread local run, a measured syscall storm: 88% kernel time).
This kernel fuses parse -> transform -> enrich -> tags/values ->
fan-out -> local reduction into one Arrow-in/Arrow-out mapper, so only
pages enter Python and only pre-reduced partials leave. Per Arrow batch
and log group:

- parse and transforms run on pandas ``str`` (:func:`.parse.make_parse_fn`,
  :func:`_apply_transform_series`): every pattern keeps Python ``re``
  semantics, the oracle's;
- tags and lookup enrichment are rendered once per distinct tag tuple;
- values are numpy arrays, one per reference, and one validity mask
  drops a line whose referenced group fails;
- the fan-out is ``n_lines x n_refs`` index arithmetic: every key's
  strings are built once per distinct (tags, reference) pair of the
  batch, and a datapoint is a key code (:class:`.datapoints.Datapoints`);
- the phase-A reduce runs in numpy over those codes
  (:func:`.aggregate.reduce_partials`), and the partials leave as Arrow
  batches whose strings are taken from the per-key columns.

The record semantics live here once, in
:func:`make_datapoint_frame_fn` (pages -> datapoints); the sequential
oracle is the independent second copy the golden tests pin it to.
The batch and both streams' ``foreachBatch`` kernels reduce the
datapoints (:func:`fused_partials_multi`), the lineage unit kernel
reduces them with the unit as a key column (plans/lineage.py), and the
tests read them as they are (:func:`fused_datapoints`).

At cluster scale this is the production path: one wide narrow stage
for every log group, shuffling O(keys x windows) partial rows.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup, TransformDef
from ..regexc import capture_whole, clean_verbose_regex
from .aggregate import PARTIAL_SCHEMA, reduce_partials
from .datapoints import DATAPOINT_SCHEMA, MT_CODE, Datapoints
from .parse import OBS_LINES, make_parse_fn

from ..contracts import FLOAT_RE as _FLOAT_RE
from ..contracts import INT_RE as _INT_RE
from ..contracts import STRIP_CHARS as _STRIP_CHARS
from ..contracts import HASH_PRIME, RID_A, RID_B, RID_C, RID_M, XS, md5_52_py


_INT = re.compile(_INT_RE)
_FLOAT = re.compile(_FLOAT_RE)


def _stripped(x) -> str:
    return x.strip(_STRIP_CHARS) if isinstance(x, str) else ""


def _strict_float(s: pd.Series) -> pd.Series:
    """Engine-wide float parse contract (contracts.FLOAT_RE; ASCII
    digits + ASCII strip set): rejects '1_0', 'inf', hex, unicode.
    -> float64 with NaN on failure, each value parsed as the oracle
    parses it (Python ``float``)."""
    vals = [float(t) if _FLOAT.fullmatch(t) else np.nan for t in map(_stripped, s)]
    return pd.Series(np.array(vals, dtype=np.float64), index=s.index)


def _strict_int(s: pd.Series) -> pd.Series:
    """Engine-wide int parse contract (contracts.INT_RE; <=18 ASCII
    digits, ASCII strip set — shared with the oracle). -> nullable
    Int64 with <NA> on failure: float64 would silently round bodies
    above 2^53 while the oracle ints stay exact."""
    vals = [int(t) if _INT.fullmatch(t) else None for t in map(_stripped, s)]
    return pd.Series(pd.array(vals, dtype="Int64"), index=s.index)


def _expand_template(template: str, source: pd.Series, pattern: str) -> pd.Series:
    """Whole-value template replacement (transform.go:50-59): value
    becomes the template with @@n@@ -> capture group n of pattern."""
    parts = re.split(r"@@(\d+)@@", template)
    ext = None
    result = pd.Series([""] * len(source), index=source.index, dtype=object)
    for i, part in enumerate(parts):
        if i % 2 == 0:
            if part:
                result = result + part
        else:
            if ext is None:
                # column n of the extract holds group n (column 0 = full match)
                ext = source.str.extract(capture_whole(pattern), expand=True).fillna("")
            result = result + ext[int(part)]
    return result


# constructs whose semantics depend on groups EXISTING: numbered /
# named backrefs and conditional groups (?(id)...). Decapturing would
# change match results (or produce an invalid pattern, for the
# conditional), so such patterns pass through unchanged — the pandas
# warning is accurate for them, and none are expressible in the
# reference's RE2-subset grammar anyway.
_BACKREF_RE = re.compile(r"\\[1-9]|\(\?P=|\(\?\(")


def _decapture(pat: str) -> str:
    """Rewrite capturing groups — plain ``(...)`` and named
    ``(?P<name>...)`` — as non-capturing for pure match-predicate use
    (str.contains warns on capture groups, and the groups are only
    needed by the extract-based @@n@@ templates, which keep the
    ORIGINAL pattern). Escapes and character classes are respected,
    including a literal ``]`` as the first class member (``[]x]`` /
    ``[^]x]``); patterns whose semantics depend on groups existing
    (backreferences, conditional groups) are returned unchanged."""
    if _BACKREF_RE.search(pat):
        return pat
    out: list[str] = []
    i, n, in_class = 0, len(pat), False
    while i < n:
        c = pat[i]
        if c == "\\" and i + 1 < n:
            out.append(pat[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            # consume the class start greedily: an optional '^' and
            # then an optional LITERAL ']' first member — scanning
            # them positionally (not via a state flag) keeps escaped
            # first members ('[\\d]...') and '[^^]' from wedging the
            # class open for the rest of the pattern
            in_class = True
            out.append(c)
            i += 1
            if i < n and pat[i] == "^":
                out.append("^")
                i += 1
            if i < n and pat[i] == "]":
                out.append("]")
                i += 1
            continue
        elif c == "(" and pat.startswith("?P<", i + 1):
            end = pat.find(">", i + 4)
            if end < 0:
                return pat  # malformed; let re raise on the original
            out.append("(?:")
            i = end + 1
            continue
        elif c == "(" and (i + 1 >= n or pat[i + 1] != "?"):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _apply_transform_series(tdef: TransformDef, s: pd.Series, apply_all: bool) -> pd.Series:
    # (kind, pattern-for-extract, match-predicate pattern, arg):
    # contains() only tests for a match, so it gets the decaptured
    # pattern; the @@n@@ template expansion keeps the original groups
    ops = [
        (op.kind, p, _decapture(p), op.arg)
        for op in tdef.operations
        for p in (clean_verbose_regex(op.pattern),)
    ]
    only_one = tdef.replace_only_one and not apply_all
    if only_one:
        # config-order fold with a per-row latch over the RUNNING
        # value (mirrors oracle._apply_transform)
        done = pd.Series(False, index=s.index)
        for kind, pat, mpat, arg in ops:
            if kind == "replace":
                hit = s.str.contains(mpat, regex=True) & ~done
                if hit.any():
                    s = s.mask(hit, _expand_template(arg, s, pat))
                    done = done | hit
            else:
                s = s.where(s.str.contains(mpat, regex=True), arg)
        return s
    for kind, pat, mpat, arg in ops:
        if kind == "replace":
            hit = s.str.contains(mpat, regex=True)
            if hit.any():
                s = s.mask(hit, _expand_template(arg, s, pat))
        else:
            s = s.where(s.str.contains(mpat, regex=True), arg)
    return s


def _distinct(s: pd.Series, fn) -> tuple[np.ndarray, pd.Series]:
    """``fn`` (a function of each value alone) over the distinct values
    of ``s``: each value's code, and ``fn`` of the distinct values."""
    codes, uniq = pd.factorize(s.to_numpy(), use_na_sentinel=False)
    return codes, fn(pd.Series(uniq, dtype=object))


def _line_values(lg: LogGroup, m: pd.DataFrame) -> tuple[np.ndarray, list[np.ndarray]]:
    """Values per reference (datapool.go:138-207), in config order, and
    the line validity they imply: one int64 array per reference, valid
    where the line is."""
    n = len(m)
    valid = np.ones(n, dtype=bool)
    parsed: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def int_at(pos: int) -> np.ndarray:
        nonlocal valid
        if pos not in parsed:
            codes, v = _distinct(m[f"g{pos}"], _strict_int)
            parsed[pos] = (v.to_numpy(dtype=np.int64, na_value=0)[codes], v.notna().to_numpy()[codes])
        v, ok = parsed[pos]
        valid &= ok
        return v

    out = []
    for mdef in lg.metrics:
        running: dict[int, np.ndarray] = {}
        for ref in mdef.references:
            if lg.compat.cumulative_ops and ref.position in running:
                val = running[ref.position]
            elif ref.position == 0:
                val = np.ones(n, dtype=np.int64)
            elif mdef.value_format == "float":
                codes, f = _distinct(m[f"g{ref.position}"], _strict_float)
                f = f.to_numpy()[codes]
                valid &= ~np.isnan(f)
                if mdef.multiply == 1 and mdef.divide == 1:
                    val = np.zeros(n) if lg.compat.float_noscale_zero else np.trunc(f)
                else:
                    # reference computes multiply and divide each from
                    # the RAW float, so divide overrides multiply when
                    # both are set (datapool.go:149-156)
                    scaled = f
                    if mdef.multiply > 1:
                        scaled = f * float(mdef.multiply)
                    if mdef.divide > 1:
                        scaled = f / float(mdef.divide)
                    val = np.trunc(scaled)
            else:
                val = int_at(ref.position)
                if mdef.multiply > 1:
                    val = val * mdef.multiply
                if mdef.divide > 1:
                    # divide in double (the oracle's int(v/d)), then
                    # truncate back to an exact int64
                    val = np.trunc(val.astype(np.float64) / mdef.divide).astype(np.int64)
            for pos in ref.add:
                if pos != 0:
                    val = val + int_at(pos)
            for pos in ref.sub:
                if pos != 0:
                    val = val - int_at(pos)
            if lg.compat.cumulative_ops:
                running[ref.position] = val
            if lg.warn_on_operation_fail:
                # the reference checks val < 0 after the op loop even
                # when no ops exist (datapool.go:203-207)
                valid &= val >= 0
            out.append(val)
    for i, val in enumerate(out):
        if val.dtype.kind == "f":
            bad = valid & ~np.isfinite(val)
            if bad.any():
                raise ValueError(f"value {val[bad][0]} of log group {lg.name!r} is not an int64")
            out[i] = np.where(valid, val, 0).astype(np.int64)
    return valid, out


def make_datapoint_frame_fn(lg: LogGroup, lookup: dict | None = None):
    """ONE pages frame -> its :class:`~.datapoints.Datapoints` (or
    None), one per (matched line, reference) in reference-major order.
    ``lookup`` is the broadcast enrichment dim as {key: (v1, v2...)}
    with a ``__columns__`` entry (same shape the oracle consumes). The
    engine's one copy of the record semantics: the fused kernels reduce
    its output, the tests read its rows (:func:`fused_datapoints`)."""
    parse_frame = make_parse_fn(lg)
    tdefs = lg.transform_by_position()
    apply_all = lg.compat.transform_apply_all
    refs = [(mdef, ref) for mdef in lg.metrics for ref in mdef.references]
    heads = [pa.scalar(f"{lg.key_prefix}.{m.key_suffix}|{m.metric_type}|") for m, _ in refs]
    tails = [pa.scalar(f"|{r.tag}") for _, r in refs]
    per_ref = {
        "metric_type": pa.array([m.metric_type for m, _ in refs], pa.string()),
        "key_suffix": pa.array([m.key_suffix for m, _ in refs], pa.string()),
        "ref_tag": pa.array([r.tag for _, r in refs], pa.string()),
        "never_stale": pa.array([m.never_stale for m, _ in refs], pa.bool_()),
    }
    ref_mt = np.array([MT_CODE[m.metric_type] for m, _ in refs], dtype=np.int64)

    enrich = lookup is not None and lg.lookup is not None
    lk_cols: list[str] = list(lookup["__columns__"]) if enrich else []
    # the "__columns__" marker row is metadata, not a joinable key
    lk_rows = {k: v for k, v in lookup.items() if k != "__columns__"} if enrich else {}
    # the groups the tags and the lookup key read
    src = sorted({p for _, p in lg.tags if isinstance(p, int)}
                 | ({lg.lookup_key_position} if enrich else set()))

    def tags_of(m: pd.DataFrame, lines: np.ndarray) -> tuple[np.ndarray, pa.Array]:
        """Each line's tag code and the distinct tag strings (sorted
        ``k=v`` pairs, lookup columns included), each rendered once."""
        combo = np.zeros(len(lines), dtype=np.int64)
        first = np.zeros(1, dtype=np.int64)
        vals = {}
        for pos in src:
            vals[pos] = m[f"g{pos}"].to_numpy()[lines]
            codes, uniq = pd.factorize(vals[pos])
            _, first, combo = np.unique(combo * len(uniq) + codes, return_index=True,
                                        return_inverse=True)
        vals = {pos: v[first] for pos, v in vals.items()}
        pieces: dict[str, list] = {}
        for name, pos_or_lit in lg.tags:
            pieces[name] = vals[pos_or_lit] if isinstance(pos_or_lit, int) else [pos_or_lit] * len(first)
        if enrich:
            rows = [lk_rows.get(k) for k in vals[lg.lookup_key_position]]
            for ci, cname in enumerate(lk_cols):
                pieces[cname] = ["unknown" if r is None or r[ci] is None else r[ci] for r in rows]
        names = sorted(pieces)
        tags = pc.dictionary_encode(pa.array(
            [" ".join(f"{n}={pieces[n][i]}" for n in names) for i in range(len(first))],
            pa.string(),
        ))
        return np.asarray(tags.indices, np.int64)[combo], tags.dictionary

    def page_hashes(pages_pdf: pd.DataFrame) -> np.ndarray:
        # record-id contract (contracts.py r03): md5 only per DISTINCT url
        codes, urls = pd.factorize(pages_pdf["url"].to_numpy())
        return np.array([md5_52_py(u) for u in urls], dtype=np.int64)[codes]

    def frame_fn(pages_pdf: pd.DataFrame) -> Datapoints | None:
        m = parse_frame(pages_pdf)
        if m is None:
            return None
        for pos, tdef in tdefs.items():
            col = f"g{pos}"
            if col in m.columns:
                codes, out = _distinct(m[col], lambda u: _apply_transform_series(tdef, u, apply_all))
                m[col] = out.to_numpy()[codes]
        valid, values = _line_values(lg, m)
        lines = np.flatnonzero(valid)
        if not len(lines):
            return None
        tag, tags = tags_of(m, lines)
        page = m["page"].to_numpy()[lines]
        ts_sec = m["event_ts"].to_numpy().astype("datetime64[ns]").view(np.int64)[lines] // 10**9
        # the per-line id is the exact-int64 multiply-xorshift mix
        y = (
            (RID_A * page_hashes(pages_pdf)[page]) % HASH_PRIME
            + RID_B * ts_sec
            + RID_C * m["line_no"].to_numpy()[lines]
        ) % HASH_PRIME
        record_id = (RID_M * (y ^ (y >> XS))) % HASH_PRIME

        # keys: one per distinct key_id among the (tags, reference) pairs
        nt, n_refs = len(tags), len(refs)
        key_ids = pc.dictionary_encode(pa.concat_arrays(
            [pc.binary_join_element_wise(h, tags, t, "") for h, t in zip(heads, tails)]
        ))
        pair_key = np.asarray(key_ids.indices, np.int64)
        first = np.empty(len(key_ids.dictionary), dtype=np.int64)
        first[pair_key[::-1]] = np.arange(len(pair_key))[::-1]
        ref_of = pa.array(first // nt)
        nk = len(first)
        keys = {
            "key_id": key_ids.dictionary,
            "group": pa.array([lg.name] * nk, pa.string()),
            "metric_type": per_ref["metric_type"].take(ref_of),
            "key_prefix": pa.array([lg.key_prefix] * nk, pa.string()),
            "key_suffix": per_ref["key_suffix"].take(ref_of),
            "tags": tags.take(pa.array(first % nt)),
            "ref_tag": per_ref["ref_tag"].take(ref_of),
            "never_stale": per_ref["never_stale"].take(ref_of),
        }
        return Datapoints(
            keys=keys,
            mt=ref_mt[first // nt],
            key=pair_key[(np.arange(n_refs)[:, None] * nt + tag).ravel()],
            ts_sec=np.tile(ts_sec, n_refs),
            value=np.concatenate([v[lines] for v in values]),
            record_id=np.tile(record_id, n_refs),
            page=np.tile(page, n_refs),
        )

    return frame_fn


# the pages columns the kernel reads
PAGES_BASE_COLS = ["url", "warc_ts", "text"]


def mask_col(i: int) -> str:
    return f"_urlm_{i}"


def with_group_url_masks(df: DataFrame, groups: list[tuple[LogGroup, dict | None]]) -> DataFrame:
    """One boolean column per group with a url filter, computed with
    Spark's rlike (Java regex) — the kernel then filters on the MASK,
    never re-evaluating the pattern in Python (whose regex dialect
    differs: unicode \\d, no possessive quantifiers, different inline
    flag rules — a config valid in single-group mode must behave
    identically in multi-group mode)."""
    for i, (lg, _) in enumerate(groups):
        if lg.url_match:
            df = df.withColumn(mask_col(i), F.col("url").rlike(lg.url_match))
    return df


def make_group_appliers(groups: list[tuple[LogGroup, dict | None]]):
    """[(log group, mask_col_or_None, datapoint frame fn)] — the shared
    per-group dispatch of every fused kernel, the lineage unit kernel's
    too (plans/lineage.py)."""
    return [
        (lg, mask_col(i) if lg.url_match else None, make_datapoint_frame_fn(lg, lookup))
        for i, (lg, lookup) in enumerate(groups)
    ]


def _pages_frame(batch: pa.RecordBatch) -> pd.DataFrame:
    """The parse's pandas frame of an Arrow batch of pages: ``warc_ts``
    as naive nanoseconds (UTC, the session time zone), as Spark hands
    it to ``mapInPandas``."""
    return pd.DataFrame({
        "url": batch.column("url").to_pandas(),
        "warc_ts": pc.cast(batch.column("warc_ts"), pa.timestamp("ns")).to_pandas(),
        "text": batch.column("text").to_pandas(),
    })


def apply_group_frames(
    batch: pa.RecordBatch, appliers
) -> Iterator[tuple[LogGroup, pa.RecordBatch, Datapoints]]:
    """Run one Arrow batch of pages through every group's datapoint
    frame fn, filtered by that group's precomputed (JVM-side) url mask
    column. Yields (log group, the group's pages, their datapoints); a
    datapoint's ``page`` indexes the group's pages."""
    for lg, mcol, frame_fn in appliers:
        sub = batch
        if mcol is not None:
            sub = batch.filter(batch.column(mcol))
        if not sub.num_rows:
            continue
        dp = frame_fn(_pages_frame(sub))
        if dp is not None:
            yield lg, sub, dp


def partials_mapper(groups: list[tuple[LogGroup, dict | None]]):
    """The fused kernel: pages batches (with the url mask columns of
    :func:`with_group_url_masks`) -> every group's phase-A partials
    (``PARTIAL_SCHEMA``) in one pass. The ``group`` column keeps the
    streams separable downstream — N groups cost ONE scan of the pages
    table instead of N."""
    appliers = make_group_appliers(groups)

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for lg, _, dp in apply_group_frames(batch, appliers):
                yield reduce_partials(lg, dp)

    return mapper


def _multi_group_pages(pages: DataFrame, groups: list[tuple[LogGroup, dict | None]]) -> DataFrame:
    """The front end both multi-group kernels share: the native
    pre-filter is the OR of the groups' url patterns (still pushed to
    the scan when every group has one — non-matching row groups are
    skipped), then one url mask column per group, so the exact
    per-group filter re-applies inside the kernel."""
    pats = [lg.url_match for lg, _ in groups]
    if pats and all(pats):
        pre = F.col("url").rlike(pats[0])
        for p in pats[1:]:
            pre = pre | F.col("url").rlike(p)
        pages = pages.filter(pre)
    return with_group_url_masks(pages.select(*PAGES_BASE_COLS), groups)


def fused_datapoints(pages: DataFrame, groups: list[tuple[LogGroup, dict | None]]) -> DataFrame:
    """pages -> pre-reduce datapoints (``DATAPOINT_SCHEMA``) for ALL
    groups off one scan: the shared front end, then
    :func:`make_datapoint_frame_fn` per group in one ``mapInArrow``:
    the tests' view of the datapoints the fused kernel reduces."""
    appliers = make_group_appliers(groups)

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for _, _, dp in apply_group_frames(batch, appliers):
                yield dp.to_arrow()

    return _multi_group_pages(pages, groups).mapInArrow(mapper, schema=DATAPOINT_SCHEMA)


def fused_partials_multi(
    pages: DataFrame,
    groups: list[tuple[LogGroup, dict | None]],
    observe: bool = True,
) -> DataFrame:
    """pages -> phase-A partials for ALL groups off ONE scan (the
    shared front end, then :func:`partials_mapper`). line_read/byte_read
    observe the shared scan once, for all groups together."""
    df = _multi_group_pages(pages, groups)
    if observe:
        df = df.observe(
            f"{OBS_LINES}.multi",
            F.sum(F.size(F.split(F.col("text"), "\n"))).alias("line_read"),
            F.sum(F.length("text")).alias("byte_read"),
        )
    return df.mapInArrow(partials_mapper(groups), schema=PARTIAL_SCHEMA)
