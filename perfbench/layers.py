"""Layer-by-layer calls for the traced run.

Each layer's public function is called in turn, its output
materialized before the next call, inside a span that records wall
time, process-tree CPU and the Spark stages it ran. Every routed
output produced here is checked against the oracle digest too.
"""

from __future__ import annotations

import os
import statistics

from probes import busiest_skew, quantile, sum_stages
from workloads import Context, digest_ok, drop_half_lineage, merge_cfgs


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


def _count(spark, path: str, schema: str) -> int:
    return spark.read.schema(schema).parquet(path).count()


def batch_layers(spark, ctx: Context, tracer, want: dict) -> tuple[dict, bool]:
    """fused_partials_multi -> crunch -> route_stage + write_routed."""
    from logmetrics_spark.operators.aggregate import (
        EMISSION_SCHEMA,
        PARTIAL_SCHEMA,
        crunch_emissions_lazy,
        crunch_emissions_multi,
    )
    from logmetrics_spark.operators.fused import fused_partials_multi
    from logmetrics_spark.operators.route import route_stage, write_routed
    from logmetrics_spark.plans.pipeline import lookup_df_to_dict, run_pipeline_multi
    from logmetrics_spark.sources.synth import PAGES_SCHEMA_DDL
    from logmetrics_spark.sources.tableio import TableIO

    work = os.path.join(ctx.work, "layers")
    parts_dir, em_dir = os.path.join(work, "partials"), os.path.join(work, "emissions")
    pages = spark.read.schema(PAGES_SCHEMA_DDL).parquet(ctx.pages_path)
    with tracer.span("plan.build") as plan:
        run_pipeline_multi(spark, ctx.cfgs, pages, lookups=ctx.lookups)
    spark.catalog.clearCache()

    groups = [
        (lg, lookup_df_to_dict(ctx.lookups.get(lg.lookup or "")) if lg.lookup else None)
        for c in ctx.cfgs for lg in c.log_groups
    ]
    lg_by_group = {lg.name: lg for lg, _ in groups}
    with tracer.span("fused") as fused:
        fused_partials_multi(pages, groups).write.parquet(parts_dir)
    with tracer.span("crunch") as crunch:
        parts = spark.read.schema(PARTIAL_SCHEMA).parquet(parts_dir)
        if any(lg.send_duplicates or lg.stale_removal for lg in lg_by_group.values()):
            em = crunch_emissions_lazy(parts, lg_by_group)
        else:
            em = crunch_emissions_multi(parts, lg_by_group, {n: -1 for n in lg_by_group})
        em.write.parquet(em_dir)
    out = os.path.join(work, "out")
    with tracer.span("route") as route:
        emissions = spark.read.schema(EMISSION_SCHEMA).parquet(em_dir)
        write_routed(route_stage(emissions, ctx.cfgs[0].settings), TableIO(root=out))

    routed_path = os.path.join(out, "routed")
    per_sink = [r["count"] for r in spark.read.parquet(routed_path).groupBy("sink").count().collect()]
    partial_rows = _count(spark, parts_dir, PARTIAL_SCHEMA)
    crunch_stages = crunch["stages"]
    m = {
        "plan.build_s": (plan["seconds"], "s"),
        "fused.s": (fused["seconds"], "s"),
        "fused.cpu_s": (fused["cpu_s"], "s"),
        "fused.partial_rows": (partial_rows, "count"),
        "fused.combine_ratio": (partial_rows / max(want["datapoints"], 1), "ratio"),
        "crunch.s": (crunch["seconds"], "s"),
        "crunch.cpu_s": (crunch["cpu_s"], "s"),
        "crunch.shuffle_mb": (sum_stages(crunch_stages, "shuffle_write_mb"), "MB"),
        "crunch.spill_mb": (sum_stages(crunch_stages, "spill_mb"), "MB"),
        "crunch.task_skew": (busiest_skew(crunch_stages), "ratio"),
        "crunch.emission_rows": (_count(spark, em_dir, EMISSION_SCHEMA), "count"),
        "route.s": (route["seconds"], "s"),
        "route.rows": (sum(per_sink), "count"),
        "route.mb_written": (du_mb(routed_path), "MB"),
        "route.sink_imbalance": (max(per_sink) / statistics.mean(per_sink), "ratio"),
    }
    return m, digest_ok(spark, routed_path, want)


def lineage_layers(spark, ctx: Context, tracer, want: dict) -> tuple[dict, bool]:
    """run_stage1_units then run_stage2_global after half the units
    lost their lineage (the stage 1 that first commits every unit is
    untraced). Same layout as ``run_resumable``."""
    from logmetrics_spark.plans.lineage import LineageStore, run_stage1_units, run_stage2_global
    from logmetrics_spark.sources.tableio import TableIO

    cfg = merge_cfgs(ctx.cfgs)
    work = os.path.join(ctx.work, "lineage")
    staging = os.path.join(work, "staging")
    store = LineageStore(os.path.join(work, "lineage"))
    io = TableIO(root=os.path.join(work, "out"))
    run_stage1_units(spark, cfg, ctx.pages_path, staging, store, ctx.lookups)
    drop_half_lineage(work)
    with tracer.span("lineage.stage1") as s1:
        _done, computed = run_stage1_units(spark, cfg, ctx.pages_path, staging, store,
                                           ctx.lookups)
    # every entry in this store was committed under ``cfg``
    committed = {u for u, e in store.load().items() if e.get("status") == "done"}
    with tracer.span("lineage.stage2") as s2:
        run_stage2_global(spark, cfg, staging, io, committed_units=committed)
    m = {
        "lineage.units_computed": (computed, "count"),
        "lineage.stage1_s": (s1["seconds"], "s"),
        "lineage.stage2_s": (s2["seconds"], "s"),
        "lineage.staging_mb": (du_mb(staging), "MB"),
    }
    return m, digest_ok(spark, os.path.join(work, "out", "routed"), want)


def stream_layers(spark, ctx: Context, tracer, want: dict) -> tuple[dict, bool]:
    """run_streaming_routed (availableNow) and its query progress, then
    finalize_streaming_routed once more over the drained partials."""
    from logmetrics_spark.streaming.stream_pipeline import (
        finalize_streaming_routed,
        run_streaming_routed,
    )

    cfg = merge_cfgs(ctx.cfgs)
    out = os.path.join(ctx.work, "stream")
    with tracer.span("stream.drain"):
        q = run_streaming_routed(spark, cfg, ctx.pages_path, out, lookups=ctx.lookups)
    with tracer.span("stream.finalize") as fin:
        finalize_streaming_routed(spark, cfg, out)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    add = [float(p["durationMs"].get("addBatch", 0)) for p in progress]
    trig = [float(p["durationMs"]["triggerExecution"]) for p in progress]
    m = {
        "stream.batches": (len(progress), "count"),
        "stream.microbatch_ms_p50": (quantile(trig, 0.5), "ms"),
        "stream.microbatch_ms_p75": (quantile(trig, 0.75), "ms"),
        "stream.add_batch_ms_p50": (quantile(add, 0.5), "ms"),
        "stream.trigger_overhead_ms_p50": (
            quantile([t - a for t, a in zip(trig, add)], 0.5), "ms"),
        "stream.finalize_s": (fin["seconds"], "s"),
    }
    return m, digest_ok(spark, os.path.join(out, "routed"), want)


# the layer spans that make up one pass of each workload, for the
# tracing-overhead comparison against an untraced pass
PASS_SPANS = {
    "batch_rollup": ("fused", "crunch", "route"),
    "heartbeat_full": ("fused", "crunch", "route"),
    "resume_half": ("lineage.stage1", "lineage.stage2"),
    "stream_drain": ("stream.drain",),
}


def trace_layers(spark, ctx: Context, tracer, want: dict) -> tuple[dict, int, int]:
    """All layers in turn under one ``layers`` span. Returns (metrics,
    attempted, failed): each layer group's routed output is one
    oracle-checked attempt."""
    metrics: dict = {}
    attempted = failed = 0
    with tracer.span("layers") as top:
        for fn in (batch_layers, lineage_layers, stream_layers):
            attempted += 1
            m, ok = fn(spark, ctx, tracer, want)
            failed += not ok
            metrics.update(m)
            spark.catalog.clearCache()
    stages = top["stages"]
    metrics.update({
        "spark.jobs": (top["jobs"], "count"),
        "spark.tasks": (int(sum_stages(stages, "tasks")), "count"),
        "spark.tasks_failed": (int(sum_stages(stages, "tasks_failed")), "count"),
        "spark.gc_s": (sum_stages(stages, "gc_s"), "s"),
    })
    return metrics, attempted, failed
