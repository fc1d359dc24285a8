"""Fused single-kernel pipeline: pages -> phase-A partials in ONE
``mapInPandas`` pass.

The staged plan (parse kernel -> native transform/fan-out exprs ->
local-reduce kernel) crosses the JVM<->Python Arrow socket twice, and
the second crossing carries the 13x-exploded datapoint stream — the
widest data in the whole job. On a 32-thread local run that traffic is
a measured syscall storm (88% kernel time). This kernel fuses
parse -> transform -> enrich -> tags/values -> fan-out -> local
reduction into one vectorized pandas pass, so only pages enter Python
and only pre-reduced partials leave. Semantics are IDENTICAL to the
staged operators — both are pinned against the same sequential oracle
by the golden tests (test_golden_e2e runs both modes).

At cluster scale this is the production path: one wide narrow stage
for every log group (:func:`fused_partials_multi`), shuffling
O(keys x windows) partial rows.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup, TransformDef
from ..regexc import clean_verbose_regex
from .aggregate import PARTIAL_SCHEMA, local_reduce_frame
from .parse import OBS_LINES, make_parse_fn

from ..contracts import FLOAT_RE as _FLOAT_RE
from ..contracts import INT_RE as _INT_RE
from ..contracts import STRIP_CHARS as _STRIP_CHARS
from ..contracts import (
    HASH_PRIME,
    MASK52,
    RID_A,
    RID_B,
    RID_C,
    RID_M,
    SEED_A,
    SEED_A2,
    SEED_B,
    XS,
    XS2,
    md5_52_py,
)


def _strict_float(s: pd.Series) -> pd.Series:
    """Engine-wide float parse contract (datapoints.FLOAT_RE; ASCII
    digits + ASCII strip set): rejects '1_0', 'inf', hex, unicode."""
    t = s.str.strip(_STRIP_CHARS)
    ok = t.str.fullmatch(_FLOAT_RE).fillna(False)
    return pd.to_numeric(t.where(ok), errors="coerce").astype("float64")


def _strict_int(s: pd.Series) -> pd.Series:
    """Engine-wide int parse contract (contracts.INT_RE; <=18 ASCII
    digits, ASCII strip set — shared by all three paths: fused,
    staged rlike+try_cast, oracle). -> nullable Int64 with <NA> on
    failure: float64 would silently round bodies above 2^53 while the
    staged longs and the oracle ints stay exact."""
    t = s.str.strip(_STRIP_CHARS)
    ok = t.str.fullmatch(_INT_RE).fillna(False)
    # parse matching rows straight to int64: to_numeric routes through
    # float64 whenever NaNs are present and silently rounds >2^53
    res = pd.array([None] * len(t), dtype="Int64")
    okv = ok.to_numpy()
    if okv.any():
        res[okv] = t[ok].astype("int64").to_numpy()
    return pd.Series(res, index=s.index)


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
                # wrap so the full match is capture 0 -> extract column
                # n holds original group n (column 0 = full match)
                ext = source.str.extract(f"({pattern})", expand=True).fillna("")
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
        # value (mirrors transform_expr / oracle._apply_transform)
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


def make_fused_frame_fn(lg: LogGroup, lookup: dict | None = None):
    """ONE pages frame -> ONE phase-A partial frame (or None).
    ``lookup`` is the broadcast enrichment dim as {key: (v1, v2...)}
    with a ``__columns__`` entry (same shape the oracle consumes).
    Shared by the single-group kernel and the multi-group single-scan
    kernel."""
    parse_frame = make_parse_fn(lg)
    tdefs = lg.transform_by_position()
    apply_all = lg.compat.transform_apply_all
    interval = lg.interval
    ewma = lg.ewma_interval

    lk_cols: list[str] = list(lookup["__columns__"]) if lookup else []
    # one plain dict per lookup column, built once per kernel: the
    # vectorized Series.map path below needs key -> scalar maps (the
    # "__columns__" marker row is metadata, not a joinable key)
    lk_col_maps: list[dict] = (
        [{k: v[ci] for k, v in lookup.items() if k != "__columns__"}
         for ci in range(len(lk_cols))]
        if lookup
        else []
    )

    def frame_fn(pages_pdf: pd.DataFrame) -> pd.DataFrame | None:
            m = parse_frame(pages_pdf)
            if m is None or m.empty:
                return None
            # transforms
            for pos, tdef in tdefs.items():
                col = f"g{pos}"
                if col in m.columns:
                    m[col] = _apply_transform_series(tdef, m[col], apply_all)

            # tags (+ broadcast enrichment), alphabetical
            tag_vals: dict[str, pd.Series | str] = {}
            for name, pos_or_lit in lg.tags:
                tag_vals[name] = m[f"g{pos_or_lit}"] if isinstance(pos_or_lit, int) else pos_or_lit
            if lookup is not None and lg.lookup is not None:
                keyser = m[f"g{lg.lookup_key_position}"]
                for ci, cname in enumerate(lk_cols):
                    # Series.map(dict) runs in C; missing keys -> NaN
                    # -> "unknown" (same semantics as the per-row
                    # closure this replaces, minus the Python-per-row
                    # cost on the hot path)
                    tag_vals[cname] = keyser.map(lk_col_maps[ci]).fillna("unknown")
            tags = None
            for name in sorted(tag_vals):
                piece = f"{name}=" + tag_vals[name] if isinstance(tag_vals[name], pd.Series) else f"{name}={tag_vals[name]}"
                if isinstance(piece, str):
                    piece = pd.Series(piece, index=m.index)
                tags = piece if tags is None else tags + " " + piece
            if tags is None:
                tags = pd.Series("", index=m.index)

            ts_sec = (m["event_ts"].astype("int64") // 1_000_000_000).astype("int64")
            # record-id contract (contracts.py r03): md5 only per
            # DISTINCT url (a page's many matched lines share it);
            # the per-line id is the exact-int64 multiply-xorshift
            # mix — the r02 per-matched-line hashlib loop was the
            # last per-row Python in this kernel
            url_map = {u: md5_52_py(u) for u in m["url"].unique()}
            ph = m["url"].map(url_map).to_numpy(dtype="int64")
            y = (
                (RID_A * ph) % HASH_PRIME
                + RID_B * ts_sec.to_numpy()
                + RID_C * m["line_no"].to_numpy().astype("int64")
            ) % HASH_PRIME
            record_id = pd.Series(
                (RID_M * (y ^ (y >> XS))) % HASH_PRIME, index=m.index, dtype="int64"
            )

            # values per reference (datapool.go:138-207), line validity
            valid = pd.Series(True, index=m.index)
            parsed_int: dict[int, pd.Series] = {}

            def int_at(pos: int) -> pd.Series:
                if pos not in parsed_int:
                    parsed_int[pos] = _strict_int(m[f"g{pos}"])
                return parsed_int[pos]

            ref_values: list[tuple] = []  # (mdef, ref, value Series)
            for mdef in lg.metrics:
                running: dict[int, pd.Series] = {}
                for ref in mdef.references:
                    if lg.compat.cumulative_ops and ref.position in running:
                        base = running[ref.position]
                    elif ref.position == 0:
                        base = pd.Series(1, index=m.index, dtype="Int64")
                    elif mdef.value_format == "float":
                        f = _strict_float(m[f"g{ref.position}"])
                        valid &= f.notna()
                        if mdef.multiply == 1 and mdef.divide == 1:
                            base = (
                                pd.Series(0.0, index=m.index)
                                if lg.compat.float_noscale_zero
                                else np.trunc(f)
                            )
                        else:
                            # reference computes multiply and divide
                            # each from the RAW float, so divide
                            # overrides multiply when both are set
                            # (datapool.go:149-156)
                            scaled = f
                            if mdef.multiply > 1:
                                scaled = f * float(mdef.multiply)
                            if mdef.divide > 1:
                                scaled = f / float(mdef.divide)
                            base = np.trunc(scaled)
                    else:
                        v = int_at(ref.position)
                        valid &= v.notna()
                        if mdef.multiply > 1:
                            v = v * mdef.multiply
                        if mdef.divide > 1:
                            # divide in double (staged casts long->double,
                            # oracle int(v/d) — same float semantics), then
                            # truncate back to exact Int64
                            v = pd.Series(
                                np.trunc(v.astype("float64") / mdef.divide), index=v.index
                            ).astype("Int64")
                        base = v
                    val = base
                    for pos in ref.add:
                        if pos != 0:
                            o = int_at(pos)
                            valid &= o.notna()
                            val = val + o
                    for pos in ref.sub:
                        if pos != 0:
                            o = int_at(pos)
                            valid &= o.notna()
                            val = val - o
                    if lg.compat.cumulative_ops:
                        running[ref.position] = val
                    if lg.warn_on_operation_fail:
                        # the reference checks val < 0 after the op
                        # loop even when no ops exist
                        # (datapool.go:203-207)
                        valid &= val.fillna(-1) >= 0
                    ref_values.append((mdef, ref, val))

            if not valid.all():
                keep = valid
                m2_index = m.index[keep]
            else:
                m2_index = m.index

            if len(m2_index) == 0:
                return None

            # fan-out: one small frame per reference, then local reduce
            frames = []
            tags_k = tags.loc[m2_index]
            ts_k = ts_sec.loc[m2_index]
            rid_k = record_id.loc[m2_index]
            for mdef, ref, val in ref_values:
                key_name = f"{lg.key_prefix}.{mdef.key_suffix}|{mdef.metric_type}|"
                key_id = key_name + tags_k + f"|{ref.tag}"
                frames.append(
                    pd.DataFrame(
                        {
                            "key_id": key_id,
                            "group": lg.name,
                            "metric_type": mdef.metric_type,
                            "key_prefix": lg.key_prefix,
                            "key_suffix": mdef.key_suffix,
                            "tags": tags_k,
                            "ref_tag": ref.tag,
                            "never_stale": mdef.never_stale,
                            "ts_sec": ts_k,
                            "value": val.loc[m2_index].astype("int64"),
                            "record_id": rid_k,
                        }
                    )
                )
            dp = pd.concat(frames, ignore_index=True)
            dp["w"] = dp["ts_sec"] // interval
            dp["t"] = np.where(
                dp["metric_type"].to_numpy() == "meter", dp["ts_sec"] // ewma, 0
            )
            is_hist = dp["metric_type"].to_numpy() == "histogram"
            h52 = np.zeros(len(dp), dtype="float64")
            if is_hist.any():
                # reservoir seed contract (contracts.py r03): md5 only
                # per DISTINCT key; per-datapoint seed is the exact
                # multiply-xorshift mix of (key_h, record_id)
                idx = np.nonzero(is_hist)[0]
                kid = dp["key_id"].iloc[idx]
                kmap = {k: md5_52_py(k) for k in kid.unique()}
                kh = kid.map(kmap).to_numpy(dtype="int64")
                z = kh ^ (dp["record_id"].to_numpy()[idx] & MASK52)
                w = (SEED_A * (z ^ (z >> XS))) % HASH_PRIME
                h52[idx] = (
                    (SEED_A2 * (w ^ (w >> XS2)) + SEED_B) % HASH_PRIME
                ).astype("float64")
            dp["h52"] = h52
            return local_reduce_frame(dp, lg)

    return frame_fn


PAGES_BASE_COLS = ["url", "warc_ts", "lang", "text"]


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
    """[(group_name, mask_col_or_None, frame_fn)] — the shared
    per-group dispatch used by the multi-group kernel AND the lineage
    unit kernel (plans/lineage.py)."""
    return [
        (
            lg.name,
            mask_col(i) if lg.url_match else None,
            make_fused_frame_fn(lg, lookup),
        )
        for i, (lg, lookup) in enumerate(groups)
    ]


def apply_group_frames(pdf: pd.DataFrame, appliers) -> Iterator[tuple[str, pd.DataFrame]]:
    """Run one pages frame through every group's frame fn, filtered by
    that group's precomputed (JVM-side) url mask column."""
    for gname, mcol, frame_fn in appliers:
        sub = pdf
        if mcol is not None:
            mask = pdf[mcol].to_numpy()
            if not mask.any():
                continue
            sub = pdf[mask]
        out = frame_fn(sub[PAGES_BASE_COLS])
        if out is not None and len(out):
            yield gname, out


def make_multi_fused_kernel(groups: list[tuple[LogGroup, dict | None]]):
    """pages batches -> PARTIAL_SCHEMA batches for MANY log groups in
    one pass: each batch is filtered per group (precomputed native url
    mask) and run through that group's frame fn. The ``group`` column
    of the partial schema keeps the streams separable downstream — N
    groups cost ONE scan of the pages table instead of N."""
    appliers = make_group_appliers(groups)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            for _gname, out in apply_group_frames(pdf, appliers):
                yield out

    return kernel


def fused_partials_multi(
    pages: DataFrame,
    groups: list[tuple[LogGroup, dict | None]],
    observe: bool = True,
) -> DataFrame:
    """pages -> phase-A partials for ALL groups off ONE scan.

    The native pre-filter is the OR of the groups' url patterns (still
    pushed to the scan when every group has one — non-matching row
    groups are skipped); the exact per-group url filter re-applies
    inside the kernel. line_read/byte_read observe the shared scan
    once, for all groups together."""
    df = pages
    pats = [lg.url_match for lg, _ in groups]
    if pats and all(pats):
        pre = F.col("url").rlike(pats[0])
        for p in pats[1:]:
            pre = pre | F.col("url").rlike(p)
        df = df.filter(pre)
    df = with_group_url_masks(df.select(*PAGES_BASE_COLS), groups)
    if observe:
        df = df.observe(
            f"{OBS_LINES}.multi",
            F.sum(F.size(F.split(F.col("text"), "\n"))).alias("line_read"),
            F.sum(F.length("text")).alias("byte_read"),
        )
    return df.mapInPandas(make_multi_fused_kernel(groups), schema=PARTIAL_SCHEMA)
