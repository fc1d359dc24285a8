"""Workload inputs, the oracle digest, and one timed pass per workload.

Inputs are a pure function of (shape, seed): ``SynthSpec`` pages written
as parquet files with pyarrow, cached under the benchmark's cache dir.
The oracle digest of a (shape, seed) is computed once and cached too —
the sequential oracle runs at a few thousand pages per second, far too
slow to repeat per run.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

CONFIG_FILES = ("rest_api.toml", "apache.toml")


@dataclass(frozen=True)
class Shape:
    """One generated pages table and the config profile run over it."""

    name: str
    pages: int
    files: int
    span_s: int  # event-time span of the table (SynthSpec.time_span_seconds)
    profile: str  # "throughput" or "shipped"

    def key(self, seed: int) -> str:
        return f"{self.name}-p{self.pages}-f{self.files}-t{self.span_s}-s{seed}"


# throughput profile over default SynthSpec pages; batch_rollup,
# resume_half and stream_drain all read this one table per seed
ROLLUP = Shape("rollup", pages=5000, files=32, span_s=3600, profile="throughput")
# the shipped fixture configs (15 s windows, heartbeats, stale removal)
# over few pages: output-bound
HEARTBEAT = Shape("heartbeat", pages=300, files=4, span_s=600, profile="shipped")
# tiny inputs of the same profiles: set-up warm-up passes and smoke mode
TINY_ROLLUP = Shape("tiny-rollup", pages=240, files=8, span_s=3600, profile="throughput")
TINY_HEARTBEAT = Shape("tiny-heartbeat", pages=60, files=4, span_s=300, profile="shipped")


def load_cfgs(root: str, profile: str) -> list:
    """Both fixture configs; the throughput profile is the production
    roll-up shape (300 s windows, no heartbeats, no stale removal)."""
    from logmetrics_spark.config import load_config

    cfgs = [load_config(os.path.join(root, "configs", f)) for f in CONFIG_FILES]
    if profile == "throughput":
        cfgs = [
            dataclasses.replace(
                c,
                log_groups=tuple(
                    dataclasses.replace(
                        lg, send_duplicates=False, stale_removal=False, interval=300
                    )
                    for lg in c.log_groups
                ),
            )
            for c in cfgs
        ]
    return cfgs


def merge_cfgs(cfgs: list):
    """One config carrying every log group (the fixtures share their
    routing settings), for the single-config resume and streaming APIs."""
    groups: tuple = ()
    for c in cfgs:
        groups += c.log_groups
    return dataclasses.replace(cfgs[0], log_groups=groups)


def _spec(shape: Shape, seed: int):
    from logmetrics_spark.sources.synth import SynthSpec

    return SynthSpec(n_rows=shape.pages, seed=seed, time_span_seconds=shape.span_s)


def _atomic_dir(final: str, build) -> str:
    if os.path.exists(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


def ensure_pages(cache: str, shape: Shape, seed: int) -> str:
    """Write the table as ``shape.files`` parquet files of contiguous
    row ranges; returns its directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logmetrics_spark.sources.synth import gen_pages_pdf

    def build(tmp: str) -> None:
        spec = _spec(shape, seed)
        bounds = np.linspace(0, shape.pages, shape.files + 1).astype(int)
        for i in range(shape.files):
            pdf = gen_pages_pdf(np.arange(bounds[i], bounds[i + 1]), spec)
            pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            pq.write_table(table, os.path.join(tmp, f"pages-{i:05d}.parquet"),
                           coerce_timestamps="us")

    return _atomic_dir(os.path.join(cache, "inputs", shape.key(seed)), build)


def line_hash(line: str, sink: str) -> int:
    """60-bit md5 prefix of ``line \\t sink``; Spark computes the same
    value natively in :func:`digest_ok`."""
    return int(hashlib.md5(f"{line}\t{sink}".encode()).hexdigest()[:15], 16)


def oracle_digest(root: str, cache: str, shape: Shape, seed: int) -> dict:
    """Order-free digest of the oracle's (line, sink) multiset, summed
    over both configs: {"rows", "sum", "datapoints"}. ``datapoints``
    (matched lines x references per line) is the base of the fused
    kernel's combine ratio."""
    path = os.path.join(cache, "oracle", shape.key(seed) + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from logmetrics_spark.oracle import aggregate, parse_pages, route
    from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_pages_pdf

    pages = gen_pages_pdf(np.arange(shape.pages), _spec(shape, seed)).to_dict("records")
    lookups = {"hosts": gen_hosts_lookup_dict()}
    rows = total = dps = 0
    for cfg in load_cfgs(root, shape.profile):
        for lg in cfg.log_groups:
            points = parse_pages(pages, lg, lookups.get(lg.lookup or ""))
            dps += len(points)
            for r in route(aggregate(points, lg), cfg):
                rows += 1
                total += line_hash(r["line"], r["sink"])
    out = {"rows": rows, "sum": str(total), "datapoints": dps}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def digest_ok(spark, routed_path: str, want: dict) -> bool:
    """Whether a committed routed table has the oracle's digest ``want``;
    Spark computes the same sum natively, in one job."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5(F.concat_ws("\t", "line", "sink")), 1, 15), 16, 10)
    r = spark.read.parquet(routed_path).select(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")
    ).first()
    return int(r["n"]) == want["rows"] and str(int(r["s"] or 0)) == want["sum"]


# --------------------------------------------------------------- passes


@dataclass
class Context:
    """What a workload's passes share within one session."""

    work: str  # scratch dir for this workload's outputs
    pages_path: str
    pages: int
    cfgs: list
    lookups: dict
    n_pass: int = 0
    state: dict = dataclasses.field(default_factory=dict)


@dataclass
class PassResult:
    seconds: float
    routed_path: str


def make_context(spark, root: str, work: str, pages_path: str, shape: Shape) -> Context:
    """A fresh (emptied) work dir and the shape's configs and lookups."""
    from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return Context(
        work=work, pages_path=pages_path, pages=shape.pages,
        cfgs=load_cfgs(root, shape.profile),
        lookups={"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())},
    )


def _next_dir(ctx: Context, tag: str) -> str:
    ctx.n_pass += 1
    return os.path.join(ctx.work, f"{tag}{ctx.n_pass}")


def batch_pass(spark, ctx: Context) -> PassResult:
    """One scan of both grammars through ``run_pipeline_multi``, routed
    rows written per sink by ``write_routed``."""
    from logmetrics_spark.operators.route import write_routed
    from logmetrics_spark.plans.pipeline import run_pipeline_multi
    from logmetrics_spark.sources.synth import PAGES_SCHEMA_DDL
    from logmetrics_spark.sources.tableio import TableIO

    out = _next_dir(ctx, "batch")
    t0 = time.perf_counter()
    pages = spark.read.schema(PAGES_SCHEMA_DDL).parquet(ctx.pages_path)
    res = run_pipeline_multi(spark, ctx.cfgs, pages, lookups=ctx.lookups)
    write_routed(res.routed, TableIO(root=out))
    dt = time.perf_counter() - t0
    return PassResult(dt, os.path.join(out, "routed"))


def drop_half_lineage(work: str) -> None:
    """Simulate a crash: remove the lineage entries of a fixed half of
    the units (the first half by file path)."""
    from logmetrics_spark.plans.lineage import LineageStore

    store = LineageStore(os.path.join(work, "lineage"))
    state = store.load()
    ordered = sorted(state, key=lambda u: state[u]["path"])
    for uid in ordered[: len(ordered) // 2]:
        del state[uid]
    tmp = store._path() + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, store._path())


def resume_pass(spark, ctx: Context) -> PassResult:
    """``run_resumable`` after half of the units lost their lineage.
    The first call in a context commits every unit, untimed. Passes
    share one lineage store and routed table, so a check after the
    window reads the last pass's table."""
    from logmetrics_spark.plans.lineage import run_resumable

    work = os.path.join(ctx.work, "resume")
    cfg = merge_cfgs(ctx.cfgs)
    if not ctx.state.get("resume_ready"):
        run_resumable(spark, cfg, ctx.pages_path, work, lookups=ctx.lookups)
        ctx.state["resume_ready"] = True
    drop_half_lineage(work)
    t0 = time.perf_counter()
    run_resumable(spark, cfg, ctx.pages_path, work, lookups=ctx.lookups)
    dt = time.perf_counter() - t0
    return PassResult(dt, os.path.join(work, "out", "routed"))


def stream_pass(spark, ctx: Context) -> PassResult:
    """``run_streaming_routed`` with ``availableNow`` drains the whole
    backlog from a fresh checkpoint, then finalizes."""
    from logmetrics_spark.streaming.stream_pipeline import run_streaming_routed

    out = _next_dir(ctx, "stream")
    t0 = time.perf_counter()
    run_streaming_routed(spark, merge_cfgs(ctx.cfgs), ctx.pages_path, out,
                         lookups=ctx.lookups)
    dt = time.perf_counter() - t0
    return PassResult(dt, os.path.join(out, "routed"))


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    tiny_shape: Shape
    run_pass: object


WORKLOADS = {
    "batch_rollup": Workload("batch_rollup", ROLLUP, TINY_ROLLUP, batch_pass),
    "heartbeat_full": Workload("heartbeat_full", HEARTBEAT, TINY_HEARTBEAT, batch_pass),
    "resume_half": Workload("resume_half", ROLLUP, TINY_ROLLUP, resume_pass),
    "stream_drain": Workload("stream_drain", ROLLUP, TINY_ROLLUP, stream_pass),
}
