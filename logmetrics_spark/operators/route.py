"""Route stage: emissions -> OpenTSDB-shaped routed rows + sink writes.

Reimplements the reference's pusher (``tsdpusher.go:51-58,127-146``)
as per-sink table appends: the full metric name is assembled from the
key template (``datapool.go:185``), the OpenTSDB line rendered
natively (``put`` prefix for ``push_type="tsd"``,
``tsdpusher.go:52-53``), and each row routed to one of
``push_number`` sinks by the engine-wide deterministic md5 hash of the
series key (the reference assigns datapools to pushers round-robin,
``datapool.go:369-378``; hashing the key is the order-free equivalent).

Also derives the internal stats series (``datapool.go:217-223``,
``tsdpusher.go:35-45``): per (group, boundary) key_tracked /
key_staled, per sink key_sent / byte_sent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Settings
from ..sources.tableio import TableIO
from .datapoints import md5_52bit

# full routed-row contract (route_stage's output, in order): the last
# four columns feed the internal pool stats, not the sink line
ROUTED_COLS = (
    "metric", "ts", "value", "tags", "line", "sink",
    "is_dup", "is_zero", "group", "key_id", "boundary",
)


def route_stage(emissions: DataFrame, settings: Settings) -> DataFrame:
    """emissions -> routed rows (R4 shape, SURVEY.md §1.1)."""
    metric = F.concat_ws(".", F.col("key_prefix"), F.col("key_suffix"), F.col("ending"))
    tags_full = F.when(
        F.col("ref_tag") != "", F.concat_ws(" ", F.col("tags"), F.col("ref_tag"))
    ).otherwise(F.col("tags"))
    prefix = "put " if settings.push_type == "tsd" else ""
    line = F.concat(
        F.lit(prefix),
        F.concat_ws(" ", metric, F.col("ts"), F.col("value_str"), tags_full),
    )
    sink = F.concat(
        F.lit("sink_"),
        F.pmod(md5_52bit(F.col("key_id")), F.lit(settings.push_number)).cast("string"),
    )
    return emissions.select(
        metric.alias("metric"),
        F.col("ts"),
        F.col("value_str").alias("value"),
        tags_full.alias("tags"),
        line.alias("line"),
        sink.alias("sink"),
        F.col("is_dup"),
        F.col("is_zero"),
        F.col("group"),
        F.col("key_id"),
        F.col("boundary"),
    )


def pool_stats(routed: DataFrame) -> DataFrame:
    """Internal data_pool stats per (group, boundary):
    ``key_tracked`` = live keys at the boundary, ``key_staled`` =
    cumulative endings zeroed-out so far (``datapool.go:217-223``).
    Reads only ``group``, ``boundary``, ``is_zero`` and ``key_id``,
    which routed rows carry one-to-one from the emissions."""
    from pyspark.sql.window import Window

    per_b = routed.groupBy("group", "boundary").agg(
        F.count_distinct(F.when(~F.col("is_zero"), F.col("key_id"))).alias("key_tracked"),
        F.count(F.when(F.col("is_zero"), 1)).alias("staled_now"),
    )
    cum = Window.partitionBy("group").orderBy("boundary").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_b = per_b.withColumn("key_staled", F.sum("staled_now").over(cum)).drop("staled_now")
    return per_b.select(
        "group",
        F.col("boundary").alias("ts"),
        "key_tracked",
        "key_staled",
    )


def pusher_stats(routed: DataFrame) -> DataFrame:
    """Per-sink key_sent / byte_sent (``tsdpusher.go:35-45``)."""
    return routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("key_sent"),
        F.sum(F.length("line")).alias("byte_sent"),
    )


def console_sink(routed: DataFrame, limit: int | None = None, out=None) -> int:
    """``-D`` do-not-send mode (``tsdpusher.go:62-63``,
    ``main/logmetrics_collector.go:20``): print each routed line to
    stdout instead of pushing to a sink. Streams partition-by-
    partition via ``toLocalIterator`` — no full collect; a debug
    device by contract (the reference prints line-at-a-time too).
    Returns the number of lines printed."""
    import sys

    out = out or sys.stdout
    n = 0
    for row in routed.select("line").toLocalIterator():
        print(row["line"], file=out)
        n += 1
        if limit is not None and n >= limit:
            break
    return n


def write_routed(routed: DataFrame, io: TableIO, table: str = "routed") -> dict:
    """Per-sink partitioned append — one directory per sink table."""
    return io.write(
        routed,
        table,
        mode="overwrite",
        partition_by=("sink",),
        manifest_extra={"kind": "routed_sink"},
    )
