"""Parse stage: pages -> matched log lines with capture-group columns.

Reimplements (Spark-first) the reference's tail/extract path
(``logtail.go:66-156``): line split, 2048-byte long-line guard,
multi-regex first-match capture extraction with the arity contract,
filename(url)-derived capture groups appended after the line groups,
event-time parse with the rfc3164 year patch, and the
``line_read / line_matched / byte_read`` counters.

Physical design (v2 — one Arrow pass):

- the url filter is native (``rlike``) so predicate pushdown and
  column pruning reach the parquet scan (no ``html`` bytes are ever
  read when only ``text`` is parsed);
- everything per-line — split, length guard, first-match-wins regex
  suite (``logtail.go:124-140``), url-group append, date parse — is
  ONE vectorized pandas function over an Arrow batch's pages
  (:func:`make_parse_fn`: pandas ``str.split``/``str.extract``/
  ``to_datetime``, so every pattern keeps Python ``re`` semantics, the
  oracle's; lines find their page by index arithmetic). The engine runs
  it inside the fused kernel's ``mapInArrow`` mapper
  (operators/fused.py); :func:`parse_stage`, the parser harness's
  stage, runs it in a ``mapInPandas``. Either way a Python map is an
  optimizer barrier, so Catalyst can neither duplicate the regex work
  into pushed-down filters (the double-ArrowEvalPython failure mode of
  the withColumn+UDF shape) nor reorder around it.
- the rfc3164 missing-year patch (``datapool.go:132-136``) prepends
  the configured ``default_year`` to the date string before parsing —
  deterministic and Feb-29-safe (the oracle does the identical
  prepend);
- ``line_read``/``byte_read`` are native ``observe`` aggregates on the
  scan side (split-size / text length), ``line_matched`` observes the
  kernel output — the counters cost no extra pass.

Output columns: ``url, warc_ts, lang, line_no, g0..gN, event_ts``.
"""

from __future__ import annotations

import re as _re
from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup
from ..regexc import capture_whole

# observation names (≈ logtail.go:52-64 internal stats)
OBS_LINES = "tail_lines"
OBS_MATCHED = "tail_matched"


def output_schema(lg: LogGroup) -> str:
    n_url = _re.compile(lg.filename_match).groups if lg.filename_match else 0
    gcols = ", ".join(
        f"g{i} string" for i in range(lg.expected_matches + n_url + 1)
    )
    return (
        "url string, warc_ts timestamp_ntz, lang string, line_no int, "
        f"{gcols}, event_ts timestamp_ntz"
    )


def make_parse_fn(lg: LogGroup):
    """Per-frame parse function (driver-side compile, shipped in the
    closure like the reference's config-time PCRE compile,
    ``config.go:151-169``): a pages frame (``url``, ``warc_ts``,
    ``text``) -> its matched lines or None, one row per line with
    ``page`` (the line's row in the input frame), ``line_no``,
    ``g0..gN`` and ``event_ts``. The fused kernel (operators/fused.py)
    and :func:`parse_stage` both run it."""
    patterns = [capture_whole(p) for p in lg.regexes]
    n_groups = lg.expected_matches
    max_line = lg.max_line_size
    fn_match = lg.filename_match
    n_url = _re.compile(fn_match).groups if fn_match else 0
    date_pos = lg.date.position
    strp = lg.date.strptime_format
    has_year = lg.date.has_year
    year = lg.default_year if lg.default_year is not None else 1970

    def parse_frame(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # split -> one entry per line; a null text has no lines
        lists = pdf["text"].str.split("\n")
        has = lists.notna().to_numpy()
        lists = lists[has]
        n_per = lists.str.len().to_numpy(dtype=np.int64)
        page = np.repeat(np.flatnonzero(has), n_per)
        line_no = np.arange(len(page)) - np.repeat(np.cumsum(n_per) - n_per, n_per)
        line = pd.Series(list(chain.from_iterable(lists)), dtype=object)
        # long-line guard (logtail.go:86,96-122)
        pending = np.flatnonzero((line.str.len() < max_line).to_numpy())

        # first-match-wins regex suite
        hits, blocks = [], []
        for pat in patterns:
            if not len(pending):
                break
            g = line.iloc[pending].str.extract(pat, expand=True)
            hit = g[0].notna().to_numpy()
            if hit.any():
                hits.append(pending[hit])
                blocks.append(g[hit].fillna(""))
                pending = pending[~hit]
        if not hits:
            return None
        at = np.concatenate(hits)
        out = pd.concat(blocks, ignore_index=True)
        out.columns = [f"g{i}" for i in range(n_groups + 1)]
        out.insert(0, "line_no", line_no[at])
        out.insert(0, "page", page[at])

        # url-derived groups appended (logtail.go:131-134)
        if n_url:
            ug = pdf["url"].str.extract(fn_match, expand=True).fillna("")
            for j in range(n_url):
                out[f"g{n_groups + 1 + j}"] = ug[j].to_numpy()[out["page"].to_numpy()]

        # event time (datapool.go:124-136)
        if date_pos < 0:
            out["event_ts"] = pdf["warc_ts"].to_numpy()[out["page"].to_numpy()]
        else:
            raw = out[f"g{date_pos}"].str.replace(r" +", " ", regex=True)
            if has_year:
                ts = pd.to_datetime(raw, format=strp, errors="coerce", utc=True)
            else:
                ts = pd.to_datetime(
                    f"{year} " + raw, format=f"%Y {strp}", errors="coerce", utc=True
                )
            out["event_ts"] = ts.dt.tz_convert(None)
            out = out[out["event_ts"].notna()]
        return None if out.empty else out

    return parse_frame


def _make_kernel(lg: LogGroup):
    """The parse stage's ``mapInPandas`` kernel: :func:`make_parse_fn`
    per batch, each line carrying its page's url, warc_ts and lang."""
    parse_frame = make_parse_fn(lg)
    cols = [field.split()[0] for field in output_schema(lg).split(", ")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = parse_frame(pdf) if len(pdf) else None
            if out is not None:
                page = out["page"].to_numpy()
                for c in ("url", "warc_ts", "lang"):
                    out[c] = pdf[c].to_numpy()[page]
                yield out[cols]

    return kernel


def extract_text_from_html(pages: DataFrame) -> DataFrame:
    """Recover the ``text`` column from the ``html`` bytes (the
    input_hint per-row invariant: byte-identical extracted text per
    url). The synthetic corpus wraps text in a fixed
    ``<pre>...</pre>`` envelope; a real Common-Crawl deployment plugs
    its extractor into this same native expression slot. Pure
    Catalyst: decode + regexp over the binary column, no UDF."""
    decoded = F.decode(F.col("html"), "UTF-8")
    inner = F.regexp_extract(decoded, r"(?s)<pre>(.*)</pre>", 1)
    return pages.withColumn("text_from_html", inner)


def parse_stage(pages: DataFrame, lg: LogGroup, observe: bool = True) -> DataFrame:
    """Full parse stage: pages -> matched lines with groups + event_ts.
    A thin DataFrame wrapper over the same kernel the fused pipeline
    runs (:func:`make_parse_fn`), for the parser harness
    (jobs/parser_test.py) and the parse tests."""
    df = pages
    if lg.url_match:
        df = df.filter(F.col("url").rlike(lg.url_match))
    df = df.select("url", "warc_ts", "lang", "text")
    if observe:
        df = df.observe(
            f"{OBS_LINES}.{lg.name}",  # unique per group: unioned plans
            F.sum(F.size(F.split(F.col("text"), "\n"))).alias("line_read"),
            F.sum(F.length("text")).alias("byte_read"),
        )
    out = df.mapInPandas(_make_kernel(lg), schema=output_schema(lg))
    if observe:
        out = out.observe(f"{OBS_MATCHED}.{lg.name}", F.count(F.lit(1)).alias("line_matched"))
    return out
