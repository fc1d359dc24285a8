"""Structured Streaming variant of the pipeline.

The reference is a streaming daemon (tail -> channels); this module is
its Spark-native counterpart. Both drivers read a ``readStream`` file
source over a pages directory — new parquet files play the role of
newly-discovered/appended log files (the filename-glob poller,
``logtail.go:167-229``) — and each micro-batch stages the fused
kernel's phase-A partials for every group off one scan
(:func:`stage_partials`):

- **end-to-end parity**: :func:`run_streaming_routed` accumulates the
  partials; finalize runs the batch pipeline's tail over them (one
  global crunch + route, then ``commit`` of the routed and stats tables
  through ``TableIO``), so the streaming output is bit-equal to the
  batch pipeline on the same input (no per-batch aggregate resets) and
  lands in the same layout;
- **live view**: :func:`run_streaming_live` crunches each micro-batch's
  partials from every key's saved state (``aggregate.crunch`` with
  ``state`` and ``bounds``), the counterpart of the reference's
  in-memory ``dp.data`` map (``datapool.go:40,251-279``) kept as rows
  between batches. Its rows are closed-window emissions equal to the
  batch crunch's rows — pushes, duplicate heartbeats
  (``datapool.go:336-355``) and stale zero-outs
  (``datapool.go:315-334``), each key on its own group's parameters —
  at every boundary the watermark has passed. A boundary is emitted one
  interval plus the watermark delay after its window opens, so an
  ``availableNow`` drain leaves the windows still open unemitted.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synth import PAGES_SCHEMA_DDL
from ..sources.tableio import TableIO


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream of pages (new parquet files are discovered
    per trigger — the poll_interval glob of the reference)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=N`` partition of ``path``. Dynamic
    partition overwrite: a replayed batch rewrites only its own
    partition, so the write is idempotent under at-least-once
    ``foreachBatch``, and a reader of ``path`` sees whole partitions."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _read_batch(spark: SparkSession, path: str, schema: str, batch_id: int) -> DataFrame:
    """The ``batch_id=N`` partition of ``path`` (empty if that batch
    wrote no rows)."""
    part = os.path.join(path, f"batch_id={batch_id}")
    if not os.path.isdir(part):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(part)


def stage_partials(batch_df: DataFrame, groups, path: str, batch_id: int) -> None:
    """One micro-batch's phase-A partials for every group of ``groups``
    (the fused kernel off one scan) as ``<path>/batch_id=N``."""
    from ..operators.fused import fused_partials_multi

    _write_batch(fused_partials_multi(batch_df, groups, observe=False), path, batch_id)


def _start(stream: DataFrame, handle_batch, checkpoint: str, available_now: bool):
    w = stream.writeStream.foreachBatch(handle_batch).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def run_streaming_routed(
    spark: SparkSession,
    cfg,
    pages_path: str,
    out_dir: str,
    lookups: dict | None = None,
    available_now: bool = True,
    io: TableIO | None = None,
):
    """End-to-end streaming with EXACT batch parity: pages file-stream
    -> foreachBatch stages phase-A PARTIALS per micro-batch under
    ``partials/batch_id=N`` (:func:`stage_partials`); the cheap phase-B
    crunch + route + commit then runs over the ACCUMULATED partials
    (:func:`finalize_streaming_routed`). Partials are associative, so
    micro-batch boundaries cannot change the result: streaming output
    == ``run_pipeline`` on the same input (pinned by
    tests/test_streaming.py::test_streaming_equals_batch).

    The checkpoint directory makes the chain resumable (restart
    continues from the last committed offset — the streaming
    counterpart of plans/lineage.py). With ``available_now`` the call
    blocks until the backlog drains and finalizes (through ``io``)
    before returning; in continuous mode, call
    :func:`finalize_streaming_routed` on whatever push cadence the
    sinks want (``datapool.go:280-307``'s interval trigger, here a
    periodic batch job)."""
    from ..plans.pipeline import group_lookups

    groups = group_lookups([cfg], lookups)
    pdir = os.path.join(out_dir, "partials")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            stage_partials(batch_df, groups, pdir, batch_id)

    q = _start(read_pages_stream(spark, pages_path), handle_batch,
               os.path.join(out_dir, "checkpoint"), available_now)
    if available_now:
        finalize_streaming_routed(spark, cfg, out_dir, io)
    return q


def finalize_streaming_routed(
    spark: SparkSession, cfg, out_dir: str, io: TableIO | None = None
) -> DataFrame | None:
    """Phase B over all partials appended so far: the batch pipeline's
    tail (``route_partials``, then ``commit`` of the routed and stats
    tables through ``io``, default ``TableIO(out_dir)``: ``routed/``,
    ``stats_pool/``, ``stats_pusher/`` and their manifests). Idempotent
    — re-running after more batches extends the output, like lineage
    stage 2. Returns the routed plan, or None before the first batch."""
    from ..operators.aggregate import PARTIAL_SCHEMA
    from ..plans.pipeline import commit, route_partials

    pdir = os.path.join(out_dir, "partials")
    if not os.path.exists(pdir):
        return None
    partials = spark.read.schema(PARTIAL_SCHEMA + ", batch_id long").parquet(pdir).drop(
        "batch_id"
    )
    result = route_partials(partials, [cfg])
    commit(spark, result, io or TableIO(root=out_dir))
    return result.routed


def read_live_batch(out_dir: str, batch_id: int) -> dict:
    """What live micro-batch N recorded beside its state: ``seen``, the
    largest event time seen through it (null before any datapoint), and
    ``late``, the partial rows it dropped as their window was emitted
    already (per key, window and EWMA tick, or histogram candidate)."""
    with open(os.path.join(out_dir, "state_live", f"_batch_{batch_id}.json")) as fh:
        return json.load(fh)


def live_batch_handler(
    spark: SparkSession,
    cfg,
    out_dir: str,
    lookups: dict | None = None,
    watermark: str = "0 seconds",
):
    """The live view's ``foreachBatch`` function. Micro-batch N stages
    its partials (``partials_live/batch_id=N``), reads ``seen`` and the
    key state batch N−1 left, drops and counts the partials of windows
    batch N−1 closed (their boundaries were emitted), and moves the
    watermark: the largest event time seen, minus ``watermark``; group
    g's closed window is ``floor(watermark / interval_g) − 1``. It then
    crunches once, from the saved state to the closed windows, and
    writes the routed rows (``routed_live/batch_id=N``), the new state
    (``state_live/batch_id=N``) and, beside it, ``seen`` and the late
    count (:func:`read_live_batch`). Each output is batch N's own
    partition, computed from batch N−1's, so a replay rewrites it
    identically."""
    from ..operators.aggregate import PARTIAL_SCHEMA, STATE_COLS, STATE_SCHEMA, crunch
    from ..operators.route import ROUTED_COLS
    from ..plans.pipeline import group_lookups

    groups = group_lookups([cfg], lookups)
    lg_by_group = {lg.name: lg for lg, _ in groups}
    delay = spark.sql(
        f"SELECT CAST(timestamp_seconds(0) + INTERVAL '{watermark}' AS LONG)"
    ).first()[0]
    pdir, sdir, rdir = (os.path.join(out_dir, d) for d in ("partials_live", "state_live",
                                                           "routed_live"))

    def closed_windows(seen: int | None) -> dict[str, int]:
        return {g: -1 if seen is None else (seen - delay) // lg.interval - 1
                for g, lg in lg_by_group.items()}

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        stage_partials(batch_df, groups, pdir, batch_id)
        seen = read_live_batch(out_dir, batch_id - 1)["seen"] if batch_id else None
        prev = closed_windows(seen)
        parts = _read_batch(spark, pdir, PARTIAL_SCHEMA, batch_id)
        # a partial of a window batch N−1 closed: its boundaries were emitted
        edge = F.create_map(*[F.lit(x) for g, c in prev.items()
                              for x in (g, (c + 1) * lg_by_group[g].interval)])
        late = F.coalesce(F.col("pmax_ts") < edge[F.col("group")], F.lit(False))
        top, n_late = parts.agg(F.max("pmax_ts"), F.count(F.when(late, 1))).first()
        if top is not None:
            seen = top if seen is None else max(seen, top)
        closed = closed_windows(seen)
        out = crunch(
            parts.where(~late), lg_by_group, settings=cfg.settings,
            state=_read_batch(spark, sdir, STATE_SCHEMA, batch_id - 1),
            bounds={g: (prev[g], closed[g]) for g in lg_by_group},
        ).persist()
        try:
            _write_batch(out.where(F.col("line").isNotNull()).select(*ROUTED_COLS), rdir, batch_id)
            _write_batch(out.where(F.col("line").isNull()).select(*STATE_COLS), sdir, batch_id)
        finally:
            out.unpersist()
        os.makedirs(sdir, exist_ok=True)  # batch N+1 reads this only once N commits
        with open(os.path.join(sdir, f"_batch_{batch_id}.json"), "w") as fh:
            json.dump({"seen": seen, "late": n_late}, fh)

    return handle_batch


def run_streaming_live(
    spark: SparkSession,
    cfg,
    pages_path: str,
    out_dir: str,
    lookups: dict | None = None,
    watermark: str = "0 seconds",
    available_now: bool = True,
):
    """LIVE routed put-lines for every log group of ``cfg`` in ONE
    streaming query: pages file-stream -> ``foreachBatch``
    (:func:`live_batch_handler`): every group's partials off one scan
    (enriched from ``lookups``), crunched from each key's saved state to
    the closed windows, each key on its own group's parameters: the
    batch crunch's routed rows at the closed boundaries, line for line.
    One checkpoint (``<out_dir>/ck_live``) and one sink root
    (``<out_dir>/routed_live``) of ``batch_id=N`` partitions, which a
    reader sees whole, also while the query runs; rows carry ``group``.

    One query has ONE event-time watermark for the whole stream: the
    largest event time seen in ANY group, minus ``watermark``. A window
    closes when its boundary is at or below the watermark, and its
    emissions then leave; datapoints whose window has closed are
    dropped as late and counted (``read_live_batch(...)["late"]``), so
    a group whose event time trails another group's by more than
    ``watermark`` loses those rows. (The reference tracks a high-water
    mark per tailed file, ``datapool.go:238-244``, so neither a
    per-group nor a per-stream watermark matches it exactly.)

    With ``available_now`` the call blocks until the backlog drains.
    Returns the ``StreamingQuery``; a failure anywhere in it surfaces
    from ``awaitTermination`` — a saved key whose group the config
    lacks fails it, naming the group."""
    handle_batch = live_batch_handler(spark, cfg, out_dir, lookups, watermark)
    return _start(read_pages_stream(spark, pages_path), handle_batch,
                  os.path.join(out_dir, "ck_live"), available_now)
