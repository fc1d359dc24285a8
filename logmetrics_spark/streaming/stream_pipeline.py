"""Structured Streaming variant of the pipeline.

The reference is a streaming daemon (tail -> channels); this module is
its Spark-native counterpart:

- **source**: ``readStream`` file source over a pages directory — new
  parquet files play the role of newly-discovered/appended log files
  (the filename-glob poller, ``logtail.go:167-229``);
- **stateless stage**: the batch kernel's datapoint frame function
  (``fused.fused_datapoints``), a pure per-batch transformation that
  runs unchanged on streaming DataFrames — the live view parses,
  transforms and enriches exactly like batch;
- **live view**: :func:`streaming_emissions` is one custom stateful
  operator (``applyInPandasWithState``, event-time timeouts) holding
  live per-key state for all three metric types — the direct analog
  of the reference's in-memory ``dp.data`` map
  (``datapool.go:40,251-279``). It emits per-interval duplicate
  heartbeats for quiet keys (``send_duplicates``,
  ``datapool.go:336-355``) replaying the batch heartbeat law
  line-for-line, pushes one ZEROED snapshot before a stale key's
  eviction (``datapool.go:315-334``), and outputs EMISSION_SCHEMA so
  ``route_stage`` renders live OpenTSDB put lines
  (:func:`run_streaming_live`);
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

from ..operators.aggregate import EMISSION_SCHEMA, KEY_COLS

_EM_META = KEY_COLS + ["never_stale"]

EMISSION_STATE_SCHEMA = (
    "count long, cur_tick long, pending long, r1 double, r5 double, r15 double, "
    "initialized boolean, pri array<double>, rid array<long>, val array<long>, "
    "last_update double, dup_ts long, last_emit_b long"
)


def streaming_emissions(dp: DataFrame, lg: LogGroup, watermark: str = "2 minutes") -> DataFrame:
    """datapoints stream -> live EMISSION_SCHEMA rows (all metric
    types, one stateful operator; see module comment above)."""
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

    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60
    send_dups = lg.send_duplicates
    size = lg.histogram_size
    alpha = lg.histogram_alpha_decay
    tick = lg.ewma_interval

    def _restore(metric_type, tup):
        (count, cur_tick, pending, r1, r5, r15, initialized,
         pri, rid, val, last_update, dup_ts, last_emit_b) = tup
        if metric_type == "meter":
            st = MeterState(
                tick_seconds=tick, count=count, last_update=last_update,
                _pending=pending, _cur_tick=cur_tick, _rates=[r1, r5, r15],
                _initialized=initialized,
            )
        elif metric_type == "counter":
            st = CounterState(count=count, last_update=last_update)
        else:
            st = HistogramState(size=size, alpha=alpha)
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
            st, dup_ts, last_emit_b = _restore(metric_type, state.get)
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
            st, dup_ts, last_emit_b = _restore(metric_type, state.get)
        else:
            st = new_state(metric_type, lg)
            dup_ts, last_emit_b = 0, 0

        data = pd.concat(list(pdfs)).sort_values("ts_sec")
        if metric_type == "histogram":
            h52 = np_h52(md5_52_py(meta["key_id"]), data["record_id"].to_numpy())
            pris = np_priorities(
                data["ts_sec"].to_numpy(), np_uniform_from_hash52(h52), alpha
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
    """LIVE routed put-lines: pages file-stream -> datapoints
    (``fused_datapoints``, enriched from ``lookups`` like
    :func:`run_streaming_routed`) -> streaming_emissions (heartbeats +
    stale parity) -> route_stage -> parquet sink. The streaming
    counterpart of the batch pipeline's route stage — snapshots leave
    as rendered OpenTSDB lines, not bare state dumps.

    ONE streaming query per log group: Spark rejects multiple
    ``applyInPandasWithState`` operators inside a single streaming
    query ("Multiple applyInPandasWithStates are not supported"), so
    a multi-group config fans out into sibling queries, each with its
    own checkpoint and a per-group sink subdirectory (read the union
    back with :func:`read_live_union` — committed-files-only, safe
    while the queries are running; after a full drain a plain
    ``spark.read.parquet(out_dir + "/routed_live")`` works too). With
    ``available_now`` every query is started and drained; returns the
    single query for a one-group config (the common live case), else
    the list."""
    import os

    from ..operators.fused import fused_datapoints
    from ..operators.route import route_stage
    from ..plans.pipeline import group_lookups

    stream = read_pages_stream(spark, pages_path)
    queries = []
    for lg, lookup in group_lookups([cfg], lookups):
        em = streaming_emissions(fused_datapoints(stream, lg, lookup), lg, watermark)
        routed = route_stage(em, cfg.settings)
        q = run_stream_to_table(
            routed,
            os.path.join(out_dir, "routed_live", f"lgroup={lg.name}"),
            os.path.join(out_dir, f"ck_live_{lg.name}"),
            available_now=available_now,
        )
        queries.append(q)
    if available_now:
        for q in queries:
            q.awaitTermination()
    return queries[0] if len(queries) == 1 else queries


def read_live_union(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed-only read of the multi-group live sink union.

    Each ``routed_live/lgroup=*`` subdir is its own FileStreamSink
    root: Spark honors a sink's ``_spark_metadata`` transaction log
    only when the read path IS the sink root, so reading each group
    dir separately returns exactly the committed files — safe WHILE
    the queries are live. Reading the PARENT dir instead falls back
    to hive partition discovery over raw part files, which races
    in-flight writers (torn/uncommitted parquet footers — observed).
    Returns the union with the ``lgroup`` column restored. Listing
    goes through the Hadoop FileSystem API, so URI-schemed out_dirs
    (hdfs://, s3a://) list correctly too."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    glob_path = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/routed_live/lgroup=*")
    fs = glob_path.getFileSystem(hconf)
    statuses = fs.globStatus(glob_path)
    dirs = sorted(
        (s.getPath().toString() for s in (statuses or []) if s.isDirectory()),
    )
    if not dirs:
        raise FileNotFoundError(f"no lgroup=* sink dirs under {out_dir}/routed_live")
    from pyspark.errors.exceptions.captured import AnalysisException

    out = None
    for d in dirs:
        name = d.rsplit("lgroup=", 1)[1]
        try:
            df = spark.read.parquet(d).withColumn("lgroup", F.lit(name))
        except AnalysisException:
            # sink created but nothing committed yet (live startup):
            # schema can't be inferred from an empty metadata log —
            # the group simply isn't in the union this read
            continue
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise FileNotFoundError(
            f"no committed sink output yet under {out_dir}/routed_live"
        )
    return out


def monitor_live(spark: SparkSession, queries, timeout_sec: float | None = None) -> bool:
    """Combined await/monitor for a CONTINUOUS multi-group live run
    (``run_streaming_live(..., available_now=False)``): blocks until
    any query in the session terminates (or ``timeout_sec`` passes),
    then checks EVERY group query — if one failed, the healthy
    siblings are stopped and the failure is re-raised, so a
    multi-group deployment dies loudly instead of serving a
    half-running live view (the per-query ``awaitTermination`` loop
    only ever watched one group at a time).

    Returns True while at least one query is still active (the
    timeout path — call again to keep monitoring), False once all
    have terminated cleanly."""
    try:
        spark.streams.awaitAnyTermination(timeout_sec)
    except Exception:
        # surfaced per-query below, attributed to the failed group
        pass
    failed = [q for q in queries if q.exception() is not None]
    if failed:
        for q in queries:
            if q.isActive:
                q.stop()
        raise failed[0].exception()
    return any(q.isActive for q in queries)
