#!/usr/bin/env python
"""Offline parser test & throughput harness (≈ logmetrics_parsertest,
reference ``parsertest.go:45-85`` / ``parsertest/logmetrics_parsertest.go``).

Replays a pages table through one log group's regex suite and reports
match rate + throughput — the reference's correctness/perf check for
a config's regexes, Spark-sized:

  python jobs/parser_test.py --config configs/rest_api.toml \
      --pages /path/pages [--group rest.api] [--show-failed N]

Prints per-group: lines read, lines matched, bytes read, match rate,
and line/s / Mb/s — the same figures as the reference's
"%d line/s %d match/s %.3f Mb/s" report (``parsertest.go:27-39``).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def failed_lines(regexes: list[str], max_line_size: int):
    """``mapInPandas`` function: pages (``text``) -> the lines under the
    long-line guard that no pattern of the first-match-wins suite
    matches (logtail.go:124-140), judged with Python ``re`` as the
    engine's parse judges them."""

    def fn(batches):
        import pandas as pd

        patterns = [re.compile(p) for p in regexes]
        for pdf in batches:
            yield pd.DataFrame({"line": [
                line
                for text in pdf["text"] if text is not None
                for line in text.split("\n")
                if len(line) < max_line_size and not any(p.search(line) for p in patterns)
            ]}, dtype=object)

    return fn


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--group", default=None)
    ap.add_argument("--show-failed", type=int, default=0,
                    help="print N non-matching lines (warn_on_regex_fail analog)")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.parse import parse_stage
    from logmetrics_spark.session import get_spark

    cfg = load_config(args.config)
    spark = get_spark("parser_test", master=f"local[{args.cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    pages = spark.read.parquet(args.pages)

    for lg in cfg.log_groups:
        if args.group and lg.name != args.group:
            continue
        src = pages
        if lg.url_match:
            src = src.filter(F.col("url").rlike(lg.url_match))
        stats = src.agg(
            F.sum(F.size(F.split("text", "\n"))).alias("line_read"),
            F.sum(F.length("text")).alias("byte_read"),
        ).collect()[0]
        t0 = time.time()
        matched = parse_stage(pages, lg).count()
        dt = time.time() - t0
        line_read = stats["line_read"] or 0
        byte_read = stats["byte_read"] or 0
        rate = matched / line_read if line_read else 0.0
        print(
            f"[{lg.name}] lines={line_read} matched={matched} "
            f"({rate:.1%}) bytes={byte_read} | "
            f"{line_read / dt:,.0f} line/s {matched / dt:,.0f} match/s "
            f"{byte_read / dt / 1e6:.3f} Mb/s"
        )
        if args.show_failed:
            failed = src.select("text").mapInPandas(
                failed_lines(lg.regexes, lg.max_line_size), schema="line string"
            ).limit(args.show_failed)
            for r in failed.collect():
                print("  FAIL:", r["line"][:200])
    spark.stop()


if __name__ == "__main__":
    main()
