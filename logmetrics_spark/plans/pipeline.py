"""End-to-end pipeline assembly: pages table -> per-sink routed tables.

Mirrors the reference daemon's dataflow (``main/logmetrics_collector.go``,
SURVEY.md §3.1) as one declarative DataFrame plan for every log group:

    scan(pages) -> fused kernel (parse -> transform -> enrich ->
                   datapoint fan-out -> phase-A local reduction,
                   one mapInArrow pass for all groups)
                -> phase-B per-key crunch (one shuffle, sorted
                   mapInArrow over mixed-group partials): emission
                   law, then route in the same mapper (md5 sink hash,
                   metric and tags once per key, put line per row)
                -> commit: per-sink partitioned routed table, then the
                   stats tables read back from it

Batch, resume and stream share one tail: each produces phase-A
partials (here from pages; lineage stage 2 and stream finalize read
them from staging), calls :func:`route_partials`, then :func:`commit`. That is the
reference's single path from datapool to pusher, which always emits
its internal ``data_pool.*`` and ``pusher.*`` series.

Catalyst/Tungsten replace the reference's goroutines+channels; the
crunch shuffle replaces the file->datapool modulo partitioning
(``logtail.go:209-217``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import LogGroup, PipelineConfig
from ..operators.aggregate import crunch
from ..operators.fused import fused_partials_multi
from ..operators.route import pool_stats, pusher_stats, write_routed
from ..sources.tableio import TableIO


@dataclass
class PipelineResult:
    routed: DataFrame
    partials: DataFrame


def lookup_df_to_dict(lookup: DataFrame | None) -> dict | None:
    """Broadcast dim as a plain dict for the fused kernel / oracle
    format: {key: (v1, ...), '__columns__': [names]} — dims are tiny
    by contract (FIXTURES.md §2), so driver-side collect is the
    broadcast."""
    if lookup is None:
        return None
    cols = lookup.columns
    d: dict = {"__columns__": list(cols[1:])}
    for r in lookup.collect():
        d[r[cols[0]]] = tuple(r[c] for c in cols[1:])
    return d


def group_lookups(
    cfgs: list[PipelineConfig], lookups: dict[str, DataFrame] | None
) -> list[tuple[LogGroup, dict | None]]:
    """[(log group, its lookup dim as a dict, or None)] for every group
    of ``cfgs``: the fused kernel's input for batch, resume and stream."""
    lookups = lookups or {}
    return [
        (lg, lookup_df_to_dict(lookups.get(lg.lookup or "")) if lg.lookup else None)
        for cfg in cfgs
        for lg in cfg.log_groups
    ]


def route_partials(partials: DataFrame, cfgs: list[PipelineConfig]) -> PipelineResult:
    """Phase-A partials of every log group of ``cfgs`` -> routed rows:
    one :func:`~..operators.aggregate.crunch` that routes its own
    output (no Catalyst stage above its mapper). The tail shared by
    batch, lineage stage 2 and stream finalize; :func:`commit` writes
    its result.

    Routing settings come from the first config (the fixture configs
    share push_type/push_number; guarded)."""
    # explicit raises, NOT asserts: these guards protect routing
    # correctness and must survive python -O / PYTHONOPTIMIZE
    lgs = [lg for cfg in cfgs for lg in cfg.log_groups]
    lg_by_group = {lg.name: lg for lg in lgs}
    if len(lg_by_group) != len(lgs):
        raise ValueError(
            f"route_partials: duplicate log group names: {[lg.name for lg in lgs]}"
        )
    if any(
        (c.settings.push_type, c.settings.push_number)
        != (cfgs[0].settings.push_type, cfgs[0].settings.push_number)
        for c in cfgs
    ):
        raise ValueError("route_partials: configs disagree on routing settings")
    routed = crunch(partials, lg_by_group, settings=cfgs[0].settings)
    return PipelineResult(routed=routed, partials=partials)


def run_pipeline_multi(
    spark: SparkSession,
    cfgs: list[PipelineConfig],
    pages: DataFrame,
    lookups: dict[str, DataFrame] | None = None,
) -> PipelineResult:
    """Every log group of every config off ONE pages scan: single
    multi-group fused kernel -> single shuffle -> single mixed-group
    crunch, which routes. This is the production shape — N configured
    grammars must not cost N scans of a 100-TB table (the v1
    one-plan-per-group union did exactly that)."""
    return route_partials(fused_partials_multi(pages, group_lookups(cfgs, lookups)), cfgs)


def commit(spark: SparkSession, result: PipelineResult, io: TableIO) -> dict:
    """Write a pipeline result: the per-sink routed table, then the
    internal stats tables (``stats_pusher``: key_sent/byte_sent per
    sink; ``stats_pool``: key_tracked/key_staled per group and
    boundary), each with a manifest entry. Both stats read the
    committed routed table, which carries every column they need
    (``route.ROUTED_COLS``), so the pipeline runs once. The partials
    ``crunch`` may have cached are released, also when a write fails.
    Returns the routed table's manifest."""
    try:
        manifest = write_routed(result.routed, io)
        routed = io.read(spark, "routed", schema=result.routed.schema)
        io.write(pusher_stats(routed), "stats_pusher", manifest_extra={"kind": "stats"})
        io.write(pool_stats(routed), "stats_pool", manifest_extra={"kind": "stats"})
    finally:
        result.partials.unpersist()
    return manifest


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    pages: DataFrame,
    io: TableIO | None = None,
    lookups: dict[str, DataFrame] | None = None,
    write: bool = True,
) -> PipelineResult:
    """Run every configured log group: :func:`run_pipeline_multi` (one
    kernel from pages to partials — only pages enter Python, only
    partials leave — and one scan for any number of groups); with
    ``write`` and an ``io``, :func:`commit` the result."""
    result = run_pipeline_multi(spark, [cfg], pages, lookups=lookups)
    if write and io is not None:
        commit(spark, result, io)
    return result
