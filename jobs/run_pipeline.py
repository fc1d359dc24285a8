#!/usr/bin/env python
"""spark-submit entry point (north_rule: run via spark-submit --py-files).

Usage:
  spark-submit --py-files logmetrics_spark.zip jobs/run_pipeline.py \
      --config configs/rest_api.toml --pages /path/to/pages \
      --out /path/to/out [--resume-dir /path/state] [--lookup hosts=/path]

Batch mode by default: every --config's log groups run off one pages
scan, and the routed table plus the stats_pool/stats_pusher tables are
committed under --out (plans.pipeline.commit). -D prints the routed
put lines instead. --resume-dir switches to the per-partition
lineage/resume path (plans.lineage); its tables go under --out when
given, else under <resume-dir>/out.

--shuffle-partitions sets spark.sql.shuffle.partitions, which sizes the
crunch (one Python task per shuffle partition; each task carries a fixed
worker cost, so more tasks than cores only adds overhead). Without the
flag, or a spark-submit --conf for the key, it defaults to the
session's defaultParallelism (total executor cores), not Spark's 200.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def build_session(shuffle_partitions: int | None = None) -> SparkSession:
    """The CLI's session: UTC event time, AQE on, and one shuffle
    partition per core unless ``shuffle_partitions`` or the submit
    conf says otherwise (as ``session.get_spark`` does)."""
    builder = SparkSession.builder.appName("logmetrics_spark.pipeline")
    builder = builder.config("spark.sql.session.timeZone", "UTC")
    builder = builder.config("spark.sql.adaptive.enabled", "true")
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    if not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--config",
        required=True,
        action="append",
        help="TOML config; repeatable — multiple configs run all their "
        "log groups off ONE pages scan (run_pipeline_multi)",
    )
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "-D",
        "--do-not-send",
        action="store_true",
        help="print routed put lines to stdout instead of writing sink "
        "tables (reference tsdpusher.go:62-63 -D flag)",
    )
    ap.add_argument("--resume-dir", default=None)
    ap.add_argument("--lookup", action="append", default=[], help="name=path parquet")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.route import console_sink
    from logmetrics_spark.plans.lineage import run_resumable
    from logmetrics_spark.plans.pipeline import commit, run_pipeline_multi
    from logmetrics_spark.sources.tableio import TableIO

    if not (args.out or args.do_not_send or args.resume_dir):
        ap.error("--out is required unless -D/--do-not-send or --resume-dir is set")
    if args.resume_dir and len(args.config) > 1:
        ap.error("--resume-dir supports a single --config")
    spark = build_session(args.shuffle_partitions)
    cfgs = [load_config(c) for c in args.config]
    lookups = {}
    for spec in args.lookup:
        name, path = spec.split("=", 1)
        lookups[name] = spark.read.parquet(path)
    io = TableIO(root=args.out) if args.out else None

    if args.resume_dir:
        print(run_resumable(spark, cfgs[0], args.pages, args.resume_dir, lookups, io=io))
    else:
        res = run_pipeline_multi(spark, cfgs, spark.read.parquet(args.pages), lookups=lookups)
        if args.do_not_send:
            n = console_sink(res.routed)
            print(f"# {n} lines (not sent: -D)", file=sys.stderr)
        else:
            print({"routed_manifest": commit(spark, res, io)["snapshot_id"]})
    spark.stop()


if __name__ == "__main__":
    main()
