#!/usr/bin/env python3
"""Oracle-checked benchmark of the logmetrics_spark pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Each run is one process with its own driver JVM on ``min(nproc, 4)``
cores. ``--trace 0`` times closed-loop passes of the workload for
``--seconds`` and prints the end-to-end metrics; ``--trace 1`` is a
separate traced run that calls each layer in turn and prints the
per-layer metrics (see perfbench/README.md). Every pass's routed
output is checked against the sequential oracle's digest. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 3  # setup_s is the median of this many session start + warm-up cycles
# e2e_s is the median of at least this many passes, so that it skips the
# first full-size pass after set-up, which runs 10-30% slower
MIN_PASSES = 3


def _check_checkout() -> None:
    missing = [p for p in ("logmetrics_spark/__init__.py", "configs/rest_api.toml",
                           "configs/apache.toml", "scripts/package_pyfiles.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a logmetrics_spark checkout (missing {missing})")


def _pin_environment() -> dict:
    """Keep every file the run writes inside the checkout and size the
    driver to this machine; returns the settings used."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the env var would override spark.local.dir (set in Session.start)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    with open("/proc/meminfo") as fh:
        ram_mb = int(fh.readline().split()[1]) // 1024
    cores = min(len(os.sched_getaffinity(0)), 4)
    # session.py defaults to 64g. An eighth of RAM, at most 2g, fits
    # these inputs and leaves room for the Python workers
    driver_mb = max(1024, min(2048, ram_mb // 8))
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return {"nproc": os.cpu_count(), "cores": cores, "ram_mb": ram_mb,
            "driver_mem_mb": driver_mb}


def _build_pyfiles() -> str:
    """The package zip Python workers import, rebuilt from source."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import package_pyfiles
    finally:
        sys.path.pop(0)
    out = os.path.join(CACHE, "pyfiles", "logmetrics_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    return package_pyfiles.build(out)


class Session:
    """One driver JVM for the whole run; ``start`` may be called again
    after ``stop`` (a new SparkContext in the same JVM)."""

    def __init__(self, cores: int, pyfiles: str):
        self.cores = cores
        self.pyfiles = pyfiles
        self.spark = None

    def start(self, cores: int | None = None):
        from logmetrics_spark.session import get_spark

        cores = cores or self.cores
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(CACHE, "spark-local"),
                "spark.submit.pyFiles": self.pyfiles,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def environment_record(spark, pinned: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    from probes import cpu_probe_ops_per_s

    return {
        **pinned,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "cpu_probe_ops_per_s": round(cpu_probe_ops_per_s(), 1),
    }


def _one_pass(sess: Session, wl, ctx):
    """One timed pass; a raise is reported and counted, not fatal.
    Caches the pass left behind are dropped."""
    try:
        return wl.run_pass(sess.spark, ctx)
    except Exception as e:
        print(f"perfbench: pass failed: {type(e).__name__}: {e}", file=sys.stderr)
        return None
    finally:
        sess.spark.catalog.clearCache()


def _checked(sess: Session, results: list, want: dict) -> tuple[list[float], int]:
    """Check each pass's routed table against the oracle digest.
    Returns (seconds of the passes that match, number that failed)."""
    from workloads import digest_ok

    times, failed = [], 0
    for res in results:
        if res is not None and digest_ok(sess.spark, res.routed_path, want):
            times.append(res.seconds)
        else:
            failed += 1
            if res is not None:
                print("perfbench: routed output differs from the oracle digest",
                      file=sys.stderr)
    return times, failed


def setup(sess: Session, wl, seed: int) -> list[dict]:
    """SETUPS cycles of session start + a warm-up pass over a tiny input
    of the workload's profile (Python workers, imports, code
    generation); the last session stays up. Returns the per-cycle
    timings."""
    from workloads import digest_ok, make_context

    ctx_args, want = _inputs(wl, seed, wl.tiny_shape)
    cycles = []
    for i in range(SETUPS):
        if i:
            sess.stop()
        t0 = time.perf_counter()
        sess.start()
        t1 = time.perf_counter()
        res = wl.run_pass(sess.spark, make_context(sess.spark, *ctx_args))
        t2 = time.perf_counter()
        if not digest_ok(sess.spark, res.routed_path, want):
            raise RuntimeError(f"warm-up pass of {wl.name} differs from the oracle")
        sess.spark.catalog.clearCache()
        cycles.append({"session_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0})
    return cycles


def _inputs(wl, seed: int, shape=None):
    """(make_context args, oracle digest) of the workload's input."""
    from workloads import ensure_pages, oracle_digest

    shape = shape or wl.shape
    work = os.path.join(CACHE, "work", f"{wl.name}-{shape.name}")
    return ((ROOT, work, ensure_pages(CACHE, shape, seed), shape),
            oracle_digest(ROOT, CACHE, shape, seed))


def measure(sess: Session, wl, seed: int, seconds: float) -> dict:
    from probes import MemorySampler
    from workloads import make_context

    cycles = setup(sess, wl, seed)
    ctx_args, want = _inputs(wl, seed)
    ctx = make_context(sess.spark, *ctx_args)
    results = []
    mem = MemorySampler().start()
    try:
        t_end = time.perf_counter() + seconds
        while len(results) < MIN_PASSES or time.perf_counter() < t_end:
            results.append(_one_pass(sess, wl, ctx))
    finally:
        peak = mem.stop()
    times, failed = _checked(sess, results, want)
    out = {"attempted": len(results), "failed": failed, "metrics": {}}
    if not times:
        return out
    e2e = statistics.median(times)
    out["metrics"] = {
        "setup_s": (statistics.median(c["setup_s"] for c in cycles), "s"),
        "e2e_s": (e2e, "s"),
        "pages_per_s": (ctx.pages / e2e, "1/s"),
        "routed_rows_per_s": (want["rows"] / e2e, "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }
    out["info"] = {"passes": len(times), "pass_s": [round(t, 4) for t in times],
                   "setup_cycles": cycles, "routed_rows": want["rows"],
                   "peak_mb_by_command": {k: round(v) for k, v in mem.peak_split.items()}}
    return out


def traced(sess: Session, wl, seed: int, run_id: str) -> dict:
    """The per-layer run: set-up, three untraced passes, every layer in
    turn under spans, then one pass at local[1] for scaling."""
    from layers import PASS_SPANS, trace_layers
    from probes import StageLedger, Tracer
    from workloads import make_context

    cycles = setup(sess, wl, seed)
    ctx_args, want = _inputs(wl, seed)
    ctx = make_context(sess.spark, *ctx_args)
    untraced, failed = _checked(sess, [_one_pass(sess, wl, ctx) for _ in range(3)], want)
    attempted = 3

    tracer = Tracer(run_id, StageLedger(sess.spark))
    metrics, n, bad = trace_layers(sess.spark, ctx, tracer, want)
    attempted, failed = attempted + n, failed + bad
    spans = {s["name"]: s["seconds"] for s in tracer.spans}
    traced_pass = sum(spans[name] for name in PASS_SPANS[wl.name])
    tracer.dump(os.path.join(CACHE, "traces", run_id + ".json"))

    # the same pass on one core, after a warm-up pass on a tiny input
    sess.stop()
    sess.start(cores=1)
    tiny_args, _ = _inputs(wl, seed, wl.tiny_shape)
    _one_pass(sess, wl, make_context(sess.spark, *tiny_args))
    one, bad = _checked(sess, [_one_pass(sess, wl, make_context(sess.spark, *ctx_args))], want)
    attempted, failed = attempted + 1, failed + bad
    out = {"attempted": attempted, "failed": failed, "metrics": {}}
    if not untraced or not one:
        return out
    e2e = statistics.median(untraced)
    metrics.update({
        "setup.session_s": (statistics.median(c["session_s"] for c in cycles), "s"),
        "setup.warmup_s": (statistics.median(c["warmup_s"] for c in cycles), "s"),
        "trace.e2e_untraced_s": (e2e, "s"),
        "trace.overhead_ratio": (traced_pass / e2e - 1.0, "ratio"),
        "scaling.eff_1to4": (one[0] / (sess.cores * e2e), "ratio"),
    })
    out["metrics"] = metrics
    out["info"] = {"untraced_s": untraced, "traced_pass_s": traced_pass,
                   "local1_s": one[0], "spans": len(tracer.spans)}
    return out


def smoke(sess: Session, seed: int) -> dict:
    """Every workload, one oracle-checked pass each, on tiny inputs."""
    from workloads import WORKLOADS, make_context

    sess.start()
    metrics, attempted, failed = {}, 0, 0
    for name, wl in WORKLOADS.items():
        ctx_args, want = _inputs(wl, seed, wl.tiny_shape)
        times, bad = _checked(sess, [_one_pass(sess, wl, make_context(sess.spark, *ctx_args))],
                              want)
        attempted, failed = attempted + 1, failed + bad
        if times:
            metrics[f"{name}.e2e_s"] = (times[0], "s")
        print(f"perfbench smoke: {name} {'ok' if times else 'FAILED'}", file=sys.stderr)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one pass of every workload on tiny inputs")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    _check_checkout()
    pinned = _pin_environment()
    sys.path.insert(0, ROOT)
    shutil.rmtree(os.path.join(CACHE, "work"), ignore_errors=True)
    sess = Session(pinned["cores"], _build_pyfiles())
    run_id = f"{args.workload or 'smoke'}-s{args.seed}-t{args.trace}-{int(time.time())}"
    try:
        if args.smoke:
            out = smoke(sess, args.seed)
        elif args.trace:
            out = traced(sess, WORKLOADS[args.workload], args.seed, run_id)
        else:
            out = measure(sess, WORKLOADS[args.workload], args.seed, args.seconds)
        env = environment_record(sess.spark, pinned)
    finally:
        sess.shutdown()
        shutil.rmtree(os.path.join(CACHE, "work"), ignore_errors=True)
    print(json.dumps({"run_id": run_id, "env": env, "info": out.get("info", {})}))
    result = {
        "correct": out["failed"] == 0 and bool(out["metrics"]),
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
