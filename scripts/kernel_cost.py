"""In-process cost of one fused-kernel call (no Spark, no network).

Times ``operators.fused.partials_mapper`` — the ``mapInArrow`` mapper of
``fused_partials_multi`` — on one Arrow batch of the first N pages of a
SynthSpec table (perfbench's roll-up table: 3600 s span), for N in
3, 75, 625 and 5000, under both perfbench config profiles (throughput
and shipped). A 625-page batch is what one batch_rollup fused task
reads. The url mask columns, which Spark computes with Java ``rlike``,
are computed here with Python ``re.search``; the fixture url patterns
mean the same in both dialects.

``--filler N`` prepends N lines that no log regex matches to each page
(a Common-Crawl page carries hundreds of lines, SynthSpec's 2-6); give
several counts to measure each in turn. The partial rows do not change
with N.

Prints one line per (filler, profile, pages): the median ms per call
over ``--reps`` calls after one warm-up call, for both groups in one
call and for each group alone, and the partial rows the call yields.

    PYTHONPATH=. python scripts/kernel_cost.py [--seed 1] [--reps 7] [--filler 0 50 200]
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from logmetrics_spark.operators.fused import PAGES_BASE_COLS, mask_col, partials_mapper  # noqa: E402
from logmetrics_spark.sources.synth import SynthSpec, gen_hosts_lookup_dict, gen_pages_pdf  # noqa: E402
from workloads import load_cfgs  # noqa: E402

SIZES = (3, 75, 625, 5000)
FILLER_LINE = "lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do eiusmod tempor"


def with_filler(pdf, n: int):
    """``pdf`` with ``n`` filler lines in front of each page's text."""
    if not n:
        return pdf
    return pdf.assign(text=("\n".join([FILLER_LINE] * n) + "\n") + pdf["text"])


def pages_batch(pdf, groups) -> pa.RecordBatch:
    """Pages as Spark hands them to the mapper: UTC microsecond
    ``warc_ts`` and one url mask column per group with a url filter."""
    cols = {c: pdf[c].to_numpy() for c in PAGES_BASE_COLS}
    cols["warc_ts"] = pa.array(pdf["warc_ts"].dt.tz_localize("UTC"), pa.timestamp("us", tz="UTC"))
    for i, (lg, _) in enumerate(groups):
        if lg.url_match:
            rx = re.compile(lg.url_match)
            cols[mask_col(i)] = [rx.search(u) is not None for u in pdf["url"]]
    return pa.RecordBatch.from_pydict(cols)


def call_ms(groups, batch: pa.RecordBatch, reps: int) -> tuple[float, int]:
    mapper = partials_mapper(groups)
    rows = sum(b.num_rows for b in mapper(iter([batch])))  # warm-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _b in mapper(iter([batch])):
            pass
        times.append(time.perf_counter() - t0)
    return 1000 * statistics.median(times), rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--filler", type=int, nargs="+", default=[0],
                    help="non-matching lines prepended to each page (default 0)")
    args = ap.parse_args()
    pdf = gen_pages_pdf(np.arange(max(SIZES)), SynthSpec(n_rows=max(SIZES), seed=args.seed,
                                                          time_span_seconds=3600))
    hosts = gen_hosts_lookup_dict()
    for filler in args.filler:
        fpdf = with_filler(pdf, filler)
        for profile in ("throughput", "shipped"):
            groups = [(lg, hosts if lg.lookup else None)
                      for cfg in load_cfgs(ROOT, profile) for lg in cfg.log_groups]
            for n in SIZES:
                batch = pages_batch(fpdf.iloc[:n], groups)
                ms, rows = call_ms(groups, batch, args.reps)
                alone = "  ".join(
                    f"{g[0].name} {call_ms([g], pages_batch(fpdf.iloc[:n], [g]), args.reps)[0]:6.1f}"
                    for g in groups
                )
                print(f"filler {filler:3d}  {profile:10s} {n:5d} pages  {ms:7.1f} ms/call  "
                      f"({alone})  {rows} partial rows", flush=True)


if __name__ == "__main__":
    main()
