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
  suite (``logtail.go:124-140``), url-group append, date parse —
  runs in ONE vectorized ``mapInPandas`` kernel over Arrow batches
  (pandas ``str.split``/``explode``/``str.extract``/``to_datetime``;
  no per-row Python). A single Python eval per row by construction:
  ``mapInPandas`` is an optimizer barrier, so Catalyst can neither
  duplicate the regex work into pushed-down filters (the
  double-ArrowEvalPython failure mode of the withColumn+UDF shape)
  nor reorder around it.
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
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup

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
    """Per-frame parse function (pages pdf -> matched-lines pdf or
    None); shared by the parse mapInPandas kernel and the fused
    single-kernel pipeline (operators/fused.py)."""
    kernel = _make_kernel(lg)

    def parse_frame(pdf: pd.DataFrame) -> pd.DataFrame | None:
        for out in kernel(iter([pdf])):
            return out
        return None

    return parse_frame


def _make_kernel(lg: LogGroup):
    """Build the per-batch pandas kernel (driver-side compile, shipped
    in the closure like the reference's config-time PCRE compile,
    ``config.go:151-169``)."""
    patterns = list(lg.regexes)
    n_groups = lg.expected_matches
    max_line = lg.max_line_size
    fn_match = lg.filename_match
    n_url = _re.compile(fn_match).groups if fn_match else 0
    date_pos = lg.date.position
    strp = lg.date.strptime_format
    has_year = lg.date.has_year
    year = lg.default_year if lg.default_year is not None else 1970

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # split -> one row per line (vectorized explode)
            lines = pdf["text"].str.split("\n")
            ex = pdf[["url", "warc_ts", "lang"]].copy()
            ex["line"] = lines
            ex = ex.explode("line", ignore_index=False)
            ex["line_no"] = ex.groupby(level=0).cumcount()
            ex = ex.reset_index(drop=True)
            # long-line guard (logtail.go:86,96-122)
            ex = ex[ex["line"].str.len() < max_line]
            if ex.empty:
                continue

            # first-match-wins regex suite
            out = None
            pending = ex
            for pat in patterns:
                if pending.empty:
                    break
                g = pending["line"].str.extract(f"({pat})", expand=True)
                hit = g[0].notna()
                if hit.any():
                    sub = pending.loc[hit]
                    gg = g.loc[hit].fillna("")
                    gg.columns = [f"g{i}" for i in range(n_groups + 1)]
                    block = pd.concat([sub, gg], axis=1)
                    out = block if out is None else pd.concat([out, block])
                    pending = pending.loc[~hit]
            if out is None or out.empty:
                continue

            # url-derived groups appended (logtail.go:131-134)
            if fn_match:
                ug = out["url"].str.extract(fn_match, expand=True).fillna("")
                for j in range(n_url):
                    out[f"g{n_groups + 1 + j}"] = ug[j]

            # event time (datapool.go:124-136)
            if date_pos < 0:
                out["event_ts"] = out["warc_ts"]
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
            if out.empty:
                continue

            cols = (
                ["url", "warc_ts", "lang", "line_no"]
                + [f"g{i}" for i in range(n_groups + n_url + 1)]
                + ["event_ts"]
            )
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
