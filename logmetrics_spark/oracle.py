"""Sequential pure-Python oracle for golden end-to-end tests.

Re-implements the full pipeline spec (parse -> transform -> enrich ->
fan-out -> aggregate -> route) single-threaded with ``re`` +
``datetime`` + dicts — no Spark. Shares ONLY the metric state classes
and deterministic-hash helpers of :mod:`logmetrics_spark.timemetrics`
(they ARE the spec); all orchestration — line handling, regex
matching, transforms, value arithmetic, window/emission logic,
routing — is written independently, so the golden test validates the
distributed machinery (native expressions, partial aggregation,
shuffles, applyInPandas) against a straight-line interpretation of the
same spec.

The comparison contract (north_rule): routed-row equality (full
OpenTSDB line + sink) and per-sink aggregate counts.
"""

from __future__ import annotations

import hashlib
import re
from datetime import datetime, timezone

import numpy as np

from .config import LogGroup, PipelineConfig, TransformDef
from .contracts import h52_py, record_id_py
from .regexc import clean_verbose_regex
from .timemetrics import (
    CounterState,
    HistogramState,
    MeterState,
    format_value,
    np_priorities,
    np_uniform_from_hash52,
)


def md5_52bit_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:13], 16)


# ----------------------------------------------------------------- parse


def _parse_date(lg: LogGroup, raw: str) -> int | None:
    raw = re.sub(" +", " ", raw)
    fmt = lg.date.strptime_format
    if not lg.date.has_year:
        # rfc3164 year patch via prepend (deterministic + Feb-29-safe;
        # identical strategy in the engine's parse kernel)
        year = lg.default_year if lg.default_year is not None else 1970
        raw = f"{year} {raw}"
        fmt = f"%Y {fmt}"
    try:
        dt = datetime.strptime(raw, fmt)
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


def _apply_transform(tdef: TransformDef, value: str, apply_all: bool) -> str:
    ops = [(op.kind, clean_verbose_regex(op.pattern), op.arg) for op in tdef.operations]
    only_one = tdef.replace_only_one and not apply_all
    if only_one:
        replaced = False
        for kind, pat, arg in ops:
            if kind == "replace":
                if not replaced:
                    m = re.search(pat, value)
                    if m:
                        value = re.sub(
                            r"@@(\d+)@@", lambda g: m.group(int(g.group(1))) or "", arg
                        )
                        replaced = True
            else:
                if not re.search(pat, value):
                    value = arg
        return value
    for kind, pat, arg in ops:
        if kind == "replace":
            m = re.search(pat, value)
            if m:
                value = re.sub(r"@@(\d+)@@", lambda g: m.group(int(g.group(1))) or "", arg)
        else:
            if not re.search(pat, value):
                value = arg
    return value


def parse_pages(pages: list[dict], lg: LogGroup, lookup: dict | None = None) -> list[dict]:
    """pages (url/warc_ts/text dicts) -> datapoint dicts."""
    patterns = [re.compile(p) for p in lg.regexes]
    fn_pat = re.compile(lg.filename_match) if lg.filename_match else None
    url_pat = re.compile(lg.url_match) if lg.url_match else None
    tdefs = lg.transform_by_position()

    datapoints: list[dict] = []
    for page in pages:
        url = page["url"]
        if url_pat and not url_pat.search(url):
            continue
        if page["text"] is None:
            continue  # a page with no lines, as in the engine
        for line_no, line in enumerate(page["text"].split("\n")):
            if len(line) >= lg.max_line_size:
                continue
            groups: list[str] | None = None
            for pat in patterns:
                m = pat.search(line)
                if m:
                    groups = [m.group(0)] + [g if g is not None else "" for g in m.groups()]
                    break
            if groups is None:
                continue
            if fn_pat is not None:
                fm = fn_pat.search(url)
                n = fn_pat.groups
                if fm:
                    groups += [fm.group(j) or "" for j in range(1, n + 1)]
                else:
                    groups += [""] * n
            # event time
            if lg.date.position < 0:
                ts_sec = int(page["warc_ts"].replace(tzinfo=timezone.utc).timestamp())
            else:
                parsed = _parse_date(lg, groups[lg.date.position])
                if parsed is None:
                    continue
                ts_sec = parsed
            # transforms
            for pos, tdef in tdefs.items():
                if pos < len(groups):
                    groups[pos] = _apply_transform(
                        tdef, groups[pos], lg.compat.transform_apply_all
                    )
            # tags (+ enrichment)
            tag_pairs: dict[str, str] = {}
            for name, pos_or_lit in lg.tags:
                tag_pairs[name] = (
                    groups[pos_or_lit] if isinstance(pos_or_lit, int) else pos_or_lit
                )
            if lookup is not None and lg.lookup is not None:
                row = lookup.get(groups[lg.lookup_key_position])
                names = lookup["__columns__"]
                if row is None:
                    for c in names:
                        tag_pairs[c] = "unknown"
                else:
                    for c, v in zip(names, row):
                        tag_pairs[c] = v
            tags = " ".join(f"{n}={tag_pairs[n]}" for n in sorted(tag_pairs))

            record_id = record_id_py(md5_52bit_py(url), ts_sec, line_no)

            # values + fan-out
            line_points = []
            ok = True
            for mdef in lg.metrics:
                running: dict[int, int] = {}
                for ref in mdef.references:
                    if lg.compat.cumulative_ops and ref.position in running:
                        val = running[ref.position]
                    else:
                        val = _base_value(lg, mdef, ref, groups)
                        if val is None:
                            ok = False
                            break
                    for pos in ref.add:
                        if pos != 0:
                            o = _int_or_none(groups[pos])
                            if o is None:
                                ok = False
                                break
                            val += o
                    for pos in ref.sub:
                        if pos != 0:
                            o = _int_or_none(groups[pos])
                            if o is None:
                                ok = False
                                break
                            val -= o
                    if not ok:
                        break
                    if lg.compat.cumulative_ops:
                        running[ref.position] = val
                    if lg.warn_on_operation_fail and val < 0:
                        # reference checks every datapoint, ops or not
                        # (datapool.go:203-207)
                        ok = False
                        break
                    line_points.append(
                        {
                            "key_id": f"{lg.key_prefix}.{mdef.key_suffix}|{mdef.metric_type}|{tags}|{ref.tag}",
                            "group": lg.name,
                            "metric_type": mdef.metric_type,
                            "key_prefix": lg.key_prefix,
                            "key_suffix": mdef.key_suffix,
                            "tags": tags,
                            "ref_tag": ref.tag,
                            "never_stale": mdef.never_stale,
                            "ts_sec": ts_sec,
                            "value": val,
                            "record_id": record_id,
                        }
                    )
                if not ok:
                    break
            if ok:
                datapoints.extend(line_points)
    return datapoints


def _float_or_none(s: str) -> float | None:
    # engine-wide float parse contract (contracts.FLOAT_RE, ASCII
    # digits + ASCII strip set): rejects Python float()-isms like
    # '1_0' (= 10.0), 'inf', and unicode digits/whitespace
    from .contracts import FLOAT_RE, STRIP_CHARS

    t = s.strip(STRIP_CHARS)
    if not re.fullmatch(FLOAT_RE, t):
        return None
    return float(t)


def _int_or_none(s: str) -> int | None:
    # engine-wide int parse contract (contracts.INT_RE: <=18 ASCII
    # digits, ASCII strip set — mirrors fused._strict_int;
    # notably REJECTS '1_0', unicode digits like '٥٣', and int64-
    # overflowing bodies that Python's unbounded int() would accept)
    from .contracts import INT_RE, STRIP_CHARS

    t = s.strip(STRIP_CHARS)
    if not re.fullmatch(INT_RE, t):
        return None
    return int(t)


def _base_value(lg: LogGroup, mdef, ref, groups: list[str]) -> int | None:
    if ref.position == 0:
        return 1
    raw = groups[ref.position]
    if mdef.value_format == "float":
        f = _float_or_none(raw)
        if f is None:
            return None
        if mdef.multiply == 1 and mdef.divide == 1:
            if lg.compat.float_noscale_zero:
                return 0
            return int(f)
        # divide overrides multiply — each scales the RAW float
        # (datapool.go:149-156)
        scaled = f
        if mdef.multiply > 1:
            scaled = f * float(mdef.multiply)
        if mdef.divide > 1:
            scaled = f / float(mdef.divide)
        return int(scaled)
    v = _int_or_none(raw)
    if v is None:
        return None
    if mdef.multiply > 1:
        v = v * mdef.multiply
    if mdef.divide > 1:
        v = int(v / mdef.divide)
    return v


# ------------------------------------------------------------- aggregate


def aggregate(datapoints: list[dict], lg: LogGroup) -> list[dict]:
    """Sequential window/emission replay (same spec as the crunch)."""
    if not datapoints:
        return []
    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60
    global_last_w = max(d["ts_sec"] for d in datapoints) // interval

    # vectorized priorities (bit-identical to the engine's numpy path)
    hist_idx = [i for i, d in enumerate(datapoints) if d["metric_type"] == "histogram"]
    if hist_idx:
        h52 = np.array(
            [
                h52_py(md5_52bit_py(datapoints[i]["key_id"]), datapoints[i]["record_id"])
                for i in hist_idx
            ],
            dtype="float64",
        )
        ts_arr = np.array([datapoints[i]["ts_sec"] for i in hist_idx], dtype="float64")
        pris = np_priorities(ts_arr, np_uniform_from_hash52(h52), lg.histogram_alpha_decay)
        for j, i in enumerate(hist_idx):
            datapoints[i]["pri"] = float(pris[j])

    by_key: dict[str, list[dict]] = {}
    for d in datapoints:
        by_key.setdefault(d["key_id"], []).append(d)

    emissions: list[dict] = []
    for key_id, rows in by_key.items():
        rows.sort(key=lambda d: (d["ts_sec"], d["record_id"]))
        meta = rows[0]
        never_stale = any(r["never_stale"] for r in rows)
        mt = meta["metric_type"]
        by_w: dict[int, list[dict]] = {}
        for r in rows:
            by_w.setdefault(r["ts_sec"] // interval, []).append(r)
        first_w = min(by_w)

        state = None
        last_push_maxts = None
        dup_ts = None

        def emit(boundary, ts, snap, is_dup, is_zero):
            for ending, v in snap.items():
                if is_zero:
                    v = 0
                emissions.append(
                    {
                        "key_id": key_id,
                        "group": meta["group"],
                        "metric_type": mt,
                        "key_prefix": meta["key_prefix"],
                        "key_suffix": meta["key_suffix"],
                        "tags": meta["tags"],
                        "ref_tag": meta["ref_tag"],
                        "boundary": boundary,
                        "ending": ending,
                        "ts": int(ts),
                        "value_num": float(v),
                        "value_str": format_value(v),
                        "is_dup": is_dup,
                        "is_zero": is_zero,
                    }
                )

        for W in range(first_w, global_last_w + 1):
            B = (W + 1) * interval
            wrows = by_w.get(W)
            if wrows is not None:
                if state is None:
                    state = _new_state(mt, lg)
                    last_push_maxts = None
                    dup_ts = None
                for r in wrows:
                    if mt == "meter":
                        state.update(r["ts_sec"], r["value"])
                    elif mt == "counter":
                        state.update(r["ts_sec"], r["value"])
                    else:
                        state.offer(r["pri"], r["record_id"], r["value"], r["ts_sec"])
            if state is None:
                continue
            state.tick_to(float(B))
            if lg.stale_removal and not never_stale and (B - state.last_update) >= stale_secs:
                state.zero_out()
                emit(B, B, state.snapshot(), False, True)
                state = None
                continue
            if last_push_maxts is None or state.last_update > last_push_maxts:
                emit(B, int(state.last_update), state.snapshot(), False, False)
                last_push_maxts = state.last_update
                dup_ts = None
            elif lg.send_duplicates:
                dup_ts = (dup_ts if dup_ts is not None else int(state.last_update)) + interval
                emit(B, dup_ts, state.snapshot(), True, False)

    return emissions


def _new_state(metric_type: str, lg: LogGroup):
    if metric_type == "counter":
        return CounterState()
    if metric_type == "meter":
        return MeterState(tick_seconds=lg.ewma_interval)
    return HistogramState(size=lg.histogram_size, alpha=lg.histogram_alpha_decay)


# ----------------------------------------------------------------- route


def route(emissions: list[dict], cfg: PipelineConfig) -> list[dict]:
    prefix = "put " if cfg.settings.push_type == "tsd" else ""
    out = []
    for e in emissions:
        metric = f"{e['key_prefix']}.{e['key_suffix']}.{e['ending']}"
        tags_full = f"{e['tags']} {e['ref_tag']}" if e["ref_tag"] else e["tags"]
        line = f"{prefix}{metric} {e['ts']} {e['value_str']} {tags_full}"
        sink = f"sink_{md5_52bit_py(e['key_id']) % cfg.settings.push_number}"
        out.append(
            {
                "metric": metric,
                "ts": e["ts"],
                "value": e["value_str"],
                "tags": tags_full,
                "line": line,
                "sink": sink,
                "is_dup": e["is_dup"],
                "is_zero": e["is_zero"],
                "group": e["group"],
                "key_id": e["key_id"],
                "boundary": e["boundary"],
            }
        )
    return out


def run_oracle(
    pages: list[dict], cfg: PipelineConfig, lookups: dict[str, dict] | None = None
) -> list[dict]:
    """Full sequential pipeline: pages -> routed rows."""
    lookups = lookups or {}
    routed: list[dict] = []
    for lg in cfg.log_groups:
        dps = parse_pages(pages, lg, lookups.get(lg.lookup or ""))
        ems = aggregate(dps, lg)
        routed.extend(route(ems, cfg))
    return routed
