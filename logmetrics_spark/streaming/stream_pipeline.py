"""Structured Streaming variant of the pipeline.

The reference is a streaming daemon (tail -> channels); this module is
its Spark-native counterpart:

- **source**: ``readStream`` file source over a pages directory — new
  parquet files play the role of newly-discovered/appended log files
  (the filename-glob poller, ``logtail.go:167-229``);
- **stateless stage**: the batch kernel's datapoint frame function
  for every group off one scan (``fused.fused_datapoints``), a pure
  per-batch transformation that runs unchanged on streaming
  DataFrames — the live view parses, transforms and enriches exactly
  like batch;
- **live view**: :func:`streaming_emissions` is one custom stateful
  operator (``applyInPandasWithState``, event-time timeouts) holding
  live per-key state for all three metric types and every log group —
  the direct analog of the reference's in-memory ``dp.data`` map
  (``datapool.go:40,251-279``); each key runs its own group's
  parameters, as each reference datapool does. It emits per-interval
  duplicate heartbeats for quiet keys (``send_duplicates``,
  ``datapool.go:336-355``) replaying the batch heartbeat law
  line-for-line, pushes one ZEROED snapshot before a stale key's
  eviction (``datapool.go:315-334``), and outputs EMISSION_SCHEMA so
  ``route_stage`` renders live OpenTSDB put lines
  (:func:`run_streaming_live`: one query, one checkpoint, one sink
  root and one event-time watermark for all groups);
- **end-to-end parity**: :func:`run_streaming_routed` accumulates
  associative phase-A partials per micro-batch; finalize runs the
  batch pipeline's tail over them (one global crunch + route, then
  ``commit`` of the routed and stats tables through ``TableIO``), so
  the streaming output is bit-equal to the batch pipeline on the same
  input (no per-batch aggregate resets) and lands in the same layout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import LogGroup
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
    -> foreachBatch computes phase-A PARTIALS per micro-batch and lands
    them under ``partials/batch_id=N`` (dynamic partition overwrite —
    a replayed batch rewrites its own partition, so the sink is
    idempotent under at-least-once foreachBatch); the cheap phase-B
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
    import os

    from ..operators.fused import fused_partials_multi
    from ..plans.pipeline import group_lookups

    groups = group_lookups([cfg], lookups)
    stream = read_pages_stream(spark, pages_path)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts = fused_partials_multi(batch_df, groups, observe=False)
        (
            parts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "partials"))
        )

    w = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", os.path.join(out_dir, "checkpoint")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    if available_now:
        q.awaitTermination()
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
    import os

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


def run_stream_to_table(
    stream_df: DataFrame, out_path: str, checkpoint: str, available_now: bool = True
):
    """Write a streaming stage to parquet with checkpointed lineage
    (resume = restart with the same checkpoint dir)."""
    w = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------
# Live emission-shaped stateful operator (r03): duplicate heartbeats +
# stale zero-out + routed rendering for the LIVE view. It emits
# EMISSION_SCHEMA rows directly, so ``route_stage`` composes unchanged
# on the stream:
#
# - on DATA: fold the micro-batch into the per-key metric state and
#   emit a live snapshot (ts = last_update, is_dup false). Live rows
#   are update-stamped — the documented divergence from the batch
#   crunch, which ticks to the window boundary first (a later update
#   in the same window must still merge into un-ticked state);
# - on TIMER (event-time timeout): replay the batch heartbeat law for
#   every window boundary the watermark has passed — meters tick/decay
#   to the boundary, counters/histograms re-emit unchanged, dup_ts
#   advances ``interval`` per repetition, boundary B=(W+1)*interval —
#   so heartbeat rows are LINE-IDENTICAL to the batch crunch's dup
#   rows (test-pinned); the stale cut zeroes and removes the key at
#   the first boundary past the TTL, exactly like the batch path.
# ---------------------------------------------------------------------

from ..operators.aggregate import EMISSION_SCHEMA, KEY_COLS, log_group_of

_EM_META = KEY_COLS + ["never_stale"]

EMISSION_STATE_SCHEMA = (
    "count long, cur_tick long, pending long, r1 double, r5 double, r15 double, "
    "initialized boolean, pri array<double>, rid array<long>, val array<long>, "
    "last_update double, dup_ts long, last_emit_b long"
)


def streaming_emissions(dp: DataFrame, lg_by_group: dict[str, LogGroup], watermark: str) -> DataFrame:
    """datapoints stream of any number of log groups -> live
    EMISSION_SCHEMA rows (all metric types, one stateful operator; see
    module comment above). Each key reads its own ``LogGroup`` from
    ``lg_by_group`` by its ``group`` column (interval, stale threshold,
    dups, histogram size, alpha, ewma tick); a group missing from
    ``lg_by_group`` fails the query, naming the group."""
    from ..contracts import md5_52_py
    from ..timemetrics import (
        CounterState,
        HistogramState,
        MeterState,
        format_value,
        new_state,
        np_h52,
        np_priorities,
        np_uniform_from_hash52,
    )

    def _restore(lg, metric_type, tup):
        (count, cur_tick, pending, r1, r5, r15, initialized,
         pri, rid, val, last_update, dup_ts, last_emit_b) = tup
        if metric_type == "meter":
            st = MeterState(
                tick_seconds=lg.ewma_interval, count=count, last_update=last_update,
                _pending=pending, _cur_tick=cur_tick, _rates=[r1, r5, r15],
                _initialized=initialized,
            )
        elif metric_type == "counter":
            st = CounterState(count=count, last_update=last_update)
        else:
            st = HistogramState(size=lg.histogram_size, alpha=lg.histogram_alpha_decay)
            st._res = sorted(zip(pri, rid, val))
            st.last_update = last_update
        return st, dup_ts, last_emit_b

    def _save(state, metric_type, st, dup_ts, last_emit_b):
        if metric_type == "meter":
            tup = (st.count, st._cur_tick, st._pending, st._rates[0], st._rates[1],
                   st._rates[2], st._initialized, [], [], [],
                   float(st.last_update), dup_ts, last_emit_b)
        elif metric_type == "counter":
            tup = (st.count, 0, 0, 0.0, 0.0, 0.0, False, [], [], [],
                   float(st.last_update), dup_ts, last_emit_b)
        else:
            tup = (0, 0, 0, 0.0, 0.0, 0.0, False,
                   [p for p, _, _ in st._res], [r for _, r, _ in st._res],
                   [v for _, _, v in st._res], float(st.last_update),
                   dup_ts, last_emit_b)
        state.update(tup)

    def update(key, pdfs, state: GroupState):
        meta = dict(zip(_EM_META, key))
        lg = log_group_of(lg_by_group, meta["group"])  # per-key group dispatch
        interval = lg.interval
        stale_secs = lg.stale_treshold_min * 60
        send_dups = lg.send_duplicates
        metric_type = meta["metric_type"]
        never_stale = bool(meta["never_stale"])

        def rows(snap, boundary, ts, is_dup, is_zero):
            out = []
            for ending, v in snap.items():
                if is_zero:
                    v = 0
                out.append(
                    {
                        **{c: meta[c] for c in KEY_COLS},
                        "boundary": int(boundary),
                        "ending": ending,
                        "ts": int(ts),
                        "value_num": float(v),
                        "value_str": format_value(v),
                        "is_dup": is_dup,
                        "is_zero": is_zero,
                    }
                )
            return out

        if state.hasTimedOut:
            st, dup_ts, last_emit_b = _restore(lg, metric_type, state.get)
            wm_sec = state.getCurrentWatermarkMs() / 1000.0
            out = []
            while True:
                B = last_emit_b + interval
                if B > wm_sec:
                    break
                if (
                    lg.stale_removal
                    and not never_stale
                    and (B - st.last_update) >= stale_secs
                ):
                    st.tick_to(float(B))
                    st.zero_out()
                    out.extend(rows(st.snapshot(), B, B, False, True))
                    state.remove()
                    if out:
                        yield pd.DataFrame(out)
                    return
                if not send_dups:
                    # no heartbeats configured: nothing to emit until
                    # the stale deadline — jump straight there
                    last_emit_b = B
                    continue
                st.tick_to(float(B))
                dup_ts = (dup_ts if dup_ts > 0 else int(st.last_update)) + interval
                out.extend(rows(st.snapshot(), B, dup_ts, True, False))
                last_emit_b = B
            _save(state, metric_type, st, dup_ts, last_emit_b)
            if send_dups:
                state.setTimeoutTimestamp((last_emit_b + interval) * 1000)
            elif lg.stale_removal and not never_stale:
                # no heartbeats: the only future event a timer can
                # produce is the stale zero-out — jump straight to the
                # deadline boundary (mirror of the data path's b_star)
                # instead of waking every interval emitting nothing
                deadline = st.last_update + stale_secs
                b_star = int(-(-deadline // interval) * interval)
                state.setTimeoutTimestamp(
                    max(max(b_star, last_emit_b + interval) * 1000,
                        int(wm_sec * 1000) + 1000)
                )
            # else: dups off AND stale handling off — a timer can never
            # emit anything for this key; leave it un-armed (the data
            # path re-arms when the next row arrives)
            if out:
                yield pd.DataFrame(out)
            return

        if state.exists:
            st, dup_ts, last_emit_b = _restore(lg, metric_type, state.get)
        else:
            st = new_state(metric_type, lg)
            dup_ts, last_emit_b = 0, 0

        data = pd.concat(list(pdfs)).sort_values("ts_sec")
        if metric_type == "histogram":
            h52 = np_h52(md5_52_py(meta["key_id"]), data["record_id"].to_numpy())
            pris = np_priorities(
                data["ts_sec"].to_numpy(), np_uniform_from_hash52(h52),
                lg.histogram_alpha_decay,
            )
            st.merge_candidates(
                [
                    (float(p), int(r), int(v))
                    for p, r, v in zip(pris, data["record_id"], data["value"])
                ],
                float(data["ts_sec"].max()),
            )
        else:
            for ts, v in zip(data["ts_sec"].to_numpy(), data["value"].to_numpy()):
                st.update(float(ts), int(v))

        # live snapshot (update-stamped; boundary = the data window's)
        B = (int(st.last_update) // interval + 1) * interval
        dup_ts, last_emit_b = 0, B  # a real push resets the dup clock
        _save(state, metric_type, st, dup_ts, last_emit_b)
        # next timer: the first heartbeat boundary (dups on) or the
        # first boundary at/after the stale deadline (dups off);
        # event-time timeouts must sit strictly past the current
        # watermark (late-but-admitted data can otherwise compute a
        # boundary the watermark already crossed)
        wm_ms = state.getCurrentWatermarkMs()
        if send_dups:
            state.setTimeoutTimestamp(max((B + interval) * 1000, wm_ms + 1000))
        elif lg.stale_removal and not never_stale:
            deadline = st.last_update + stale_secs
            b_star = int(-(-deadline // interval) * interval)
            state.setTimeoutTimestamp(max(max(b_star, B) * 1000, wm_ms + 1000))
        # else: no heartbeats, no stale handling — nothing a timer
        # could ever emit; don't arm one
        yield pd.DataFrame(rows(st.snapshot(), B, int(st.last_update), False, False))

    with_ts = dp.withColumn("event_time", F.col("ts_sec").cast("timestamp"))
    return (
        with_ts.withWatermark("event_time", watermark)
        .groupBy(*_EM_META)
        .applyInPandasWithState(
            update,
            outputStructType=EMISSION_SCHEMA,
            stateStructType=EMISSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


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
    streaming query: pages file-stream -> every group's datapoints off
    one scan (``fused_datapoints``, enriched from ``lookups`` like
    :func:`run_streaming_routed`) -> :func:`streaming_emissions` (one
    stateful operator; each key runs its own group's parameters) ->
    route_stage -> one parquet sink. The streaming counterpart of the
    batch pipeline's route stage — snapshots leave as rendered OpenTSDB
    lines, not bare state dumps.

    One checkpoint (``<out_dir>/ck_live``) and one FileStreamSink root
    (``<out_dir>/routed_live``); routed rows carry ``group``. A read of
    the sink root goes through its ``_spark_metadata`` log, so
    ``spark.read.parquet(out_dir + "/routed_live")`` sees committed
    files only, also while the query runs.

    One query has ONE event-time watermark for the whole stream: the
    largest event time seen in ANY group, minus ``watermark``. Rows of
    a group whose event time trails another group's by more than
    ``watermark`` are dropped as late (Spark filters them against the
    watermark of the previous micro-batch) and counted in the query
    progress's ``numRowsDroppedByWatermark``; heartbeat and stale
    timers of every group fire against the same watermark. (The
    reference tracks a high-water mark per tailed file,
    ``datapool.go:238-244``, so neither a per-group nor a per-stream
    watermark matches it exactly.)

    With ``available_now`` the call blocks until the backlog drains.
    Returns the ``StreamingQuery``; a failure anywhere in it surfaces
    from ``awaitTermination``."""
    import os

    from ..operators.fused import fused_datapoints
    from ..operators.route import route_stage
    from ..plans.pipeline import group_lookups

    groups = group_lookups([cfg], lookups)
    dp = fused_datapoints(read_pages_stream(spark, pages_path), groups)
    em = streaming_emissions(dp, {lg.name: lg for lg, _ in groups}, watermark)
    q = run_stream_to_table(
        route_stage(em, cfg.settings),
        os.path.join(out_dir, "routed_live"),
        os.path.join(out_dir, "ck_live"),
        available_now=available_now,
    )
    if available_now:
        q.awaitTermination()
    return q
