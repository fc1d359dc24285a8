"""Route stage: emissions -> OpenTSDB-shaped routed rows + sink writes.

Reimplements the reference's pusher (``tsdpusher.go:51-58,127-146``)
as per-sink table appends: the full metric name is assembled from the
key template (``datapool.go:185``), the OpenTSDB line rendered
natively (``put`` prefix for ``push_type="tsd"``,
``tsdpusher.go:52-53``), and each row routed to one of
``push_number`` sinks by the engine-wide deterministic md5 hash of the
series key (the reference assigns datapools to pushers round-robin,
``datapool.go:369-378``; hashing the key is the order-free equivalent).

Route runs inside the crunch, on the vectorized side of the Python
boundary:

    partials -> crunch mapper (mapInArrow): emission law -> route_keyed
             -> routed rows (ROUTED_SCHEMA) -> write_routed

:func:`route_keyed` is the engine's one copy of route. Like the
reference, which picks the pusher once per datapool and renders each
line in the pusher, it builds every per-key piece once per key of an
Arrow batch (the sink, each metric name, the full tags) and joins only
``line`` per row. The crunch calls it with the keys it already holds;
:func:`route_batch` (stored emissions, through :func:`route_stage`)
finds the batch's keys first.

Also derives the internal stats series (``datapool.go:217-223``,
``tsdpusher.go:35-45``): per (group, boundary) key_tracked /
key_staled, per sink key_sent / byte_sent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Settings
from ..contracts import md5_52_py
from ..sources.tableio import TableIO

# full routed-row contract (route_stage's and the routing crunch's
# output, in order): the last four columns feed the internal pool
# stats, not the sink line
ROUTED_SCHEMA = (
    "metric string, ts long, value string, tags string, line string, sink string, "
    "is_dup boolean, is_zero boolean, group string, key_id string, boundary long"
)
_ARROW = {"string": pa.string(), "long": pa.int64(), "double": pa.float64(), "boolean": pa.bool_()}


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a flat ``"name type, ..."`` Spark DDL string
    (string, long, double and boolean columns): what a ``mapInArrow``
    mapper must yield for that output schema."""
    return pa.schema([(n, _ARROW[t]) for n, t in map(str.split, ddl.split(", "))])


_ROUTED_ARROW = arrow_schema(ROUTED_SCHEMA)
ROUTED_COLS = tuple(_ROUTED_ARROW.names)
# the per-key columns route reads: one value per (group, key_id)
KEY_PIECES = ("group", "key_id", "key_prefix", "key_suffix", "tags", "ref_tag")


def route_keyed(
    keys: dict[str, pa.Array],
    key: np.ndarray,
    endings: pa.Array,
    ending: np.ndarray,
    rows: dict[str, pa.Array],
    settings: Settings,
) -> pa.RecordBatch:
    """Routed rows (``ROUTED_SCHEMA``) of one batch of emissions.

    ``keys`` holds the :data:`KEY_PIECES` columns, one entry per key;
    ``key[i]`` is row i's key and ``ending[i]`` its index into
    ``endings``; ``rows`` holds the per-row ``ts``, ``value``,
    ``is_dup``, ``is_zero`` and ``boundary``. The sink (md5 prefix of
    the key id mod ``push_number``) and the full tags are built once per
    key, each metric name once per (key, ending) present; only ``line``
    is joined per row."""
    n_end = len(endings)
    pair = key * n_end + ending
    seen = np.zeros(len(keys["key_id"]) * n_end, dtype=bool)
    seen[pair] = True
    pairs = np.flatnonzero(seen)
    pair_at = pa.array((np.cumsum(seen) - 1)[pair])
    pair_key = pa.array(pairs // n_end)
    metric = pc.binary_join_element_wise(
        keys["key_prefix"].take(pair_key), keys["key_suffix"].take(pair_key),
        endings.take(pa.array(pairs % n_end)), ".",
    )
    head = pc.binary_join_element_wise("put", metric, " ") if settings.push_type == "tsd" else metric
    ref = pc.fill_null(keys["ref_tag"], "")
    tags = pc.if_else(pc.equal(ref, ""), keys["tags"],
                      pc.binary_join_element_wise(keys["tags"], ref, " "))
    sink = pa.array([f"sink_{md5_52_py(k) % settings.push_number}"
                     for k in keys["key_id"].to_pylist()], pa.string())
    at = pa.array(key)
    row_tags = tags.take(at)
    line = pc.binary_join_element_wise(
        head.take(pair_at), pc.cast(rows["ts"], pa.string()), rows["value"], row_tags, " "
    )
    return pa.RecordBatch.from_arrays(
        [metric.take(pair_at), rows["ts"], rows["value"], row_tags, line, sink.take(at),
         rows["is_dup"], rows["is_zero"], keys["group"].take(at), keys["key_id"].take(at),
         rows["boundary"]],
        schema=_ROUTED_ARROW,
    )


def route_batch(batch: pa.RecordBatch, settings: Settings) -> pa.RecordBatch:
    """An Arrow batch of emissions (``aggregate.EMISSION_SCHEMA``) ->
    its routed rows, through :func:`route_keyed`: the batch's keys are
    its distinct (group, key_id) pairs, each read at its first row."""
    group = pc.dictionary_encode(batch.column("group"))
    key_id = pc.dictionary_encode(batch.column("key_id"))
    ending = pc.dictionary_encode(batch.column("ending"))
    pair = np.asarray(group.indices, np.int64) * len(key_id.dictionary) + np.asarray(key_id.indices)
    _, first, key = np.unique(pair, return_index=True, return_inverse=True)
    at = pa.array(first)
    return route_keyed(
        {c: batch.column(c).take(at) for c in KEY_PIECES},
        key,
        ending.dictionary,
        np.asarray(ending.indices),
        {"ts": batch.column("ts"), "value": batch.column("value_str"),
         **{c: batch.column(c) for c in ("is_dup", "is_zero", "boundary")}},
        settings,
    )


# perfbench/layers.py still imports this name; the next benchmark change
# moves it onto ``crunch(..., settings=...)`` and deletes it
def route_stage(emissions: DataFrame, settings: Settings) -> DataFrame:
    """emissions -> routed rows (R4 shape, SURVEY.md §1.1): a
    ``mapInArrow`` of :func:`route_batch` over stored emissions. Every
    driver routes inside the crunch (``aggregate.crunch(...,
    settings=...)``)."""

    def mapper(batches):
        for batch in batches:
            yield route_batch(batch, settings)

    return emissions.mapInArrow(mapper, schema=ROUTED_SCHEMA)


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
