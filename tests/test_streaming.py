"""Structured Streaming tests: file-source stream, routed parity
(streaming result == batch result), and the live view (closed-window
emissions crunched from saved per-key state) against the oracle and
batch."""

import collections
import dataclasses
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from logmetrics_spark.operators.fused import fused_datapoints
from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf
from logmetrics_spark.streaming.stream_pipeline import (
    live_batch_handler,
    read_live_batch,
    read_pages_stream,
    run_streaming_live,
)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "pages")
    os.makedirs(src, exist_ok=True)
    spec = SynthSpec(n_rows=80, time_span_seconds=300)
    pdf = gen_pages_pdf(np.arange(80), spec)
    # two "discovered files" (the glob-poller analog)
    spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    spark.createDataFrame(pdf.iloc[40:]).coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    # flatten: stream source reads a dir of parquet files
    flat = str(base / "flat")
    os.makedirs(flat, exist_ok=True)
    import glob as _g
    import shutil

    for i, f in enumerate(sorted(_g.glob(src + "/f*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/file{i}.parquet")
    return {"flat": flat, "base": str(base), "pdf": pdf}


def _drain_live(spark, cfg, src, out, max_files, lookups=None, watermark="0 seconds"):
    """Drain a pages directory through the live view's batch handler at
    ``max_files`` files per micro-batch (checkpoint ``<out>/ck_live``,
    as ``run_streaming_live`` keeps it). Returns the query."""
    q = (
        read_pages_stream(spark, src, max_files=max_files).writeStream
        .foreachBatch(live_batch_handler(spark, cfg, out, lookups, watermark))
        .option("checkpointLocation", os.path.join(out, "ck_live"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def _late(out) -> list:
    """Each drained micro-batch's count of late partial rows, by batch id."""
    n = len([f for f in os.listdir(os.path.join(out, "state_live")) if f.startswith("_batch_")])
    return [read_live_batch(out, b)["late"] for b in range(n)]


def _digest(spark, out) -> collections.Counter:
    return collections.Counter(
        (r["line"], r["sink"])
        for r in spark.read.parquet(out + "/routed_live").select("line", "sink").collect()
    )


def _live_rows(spark, cfg, src, out, max_files):
    """Drain ``cfg``'s live view (no late rows allowed) and read
    its routed rows back, each with its metric type, ending and value
    as a number."""
    _drain_live(spark, cfg, src, out, max_files)
    assert not any(_late(out)), "late rows"
    rows = []
    for r in spark.read.parquet(out + "/routed_live").collect():
        head = r["key_id"].split("|")
        rows.append({**r.asDict(), "metric_type": head[1],
                     "ending": r["metric"][len(head[0]) + 1:], "value_num": float(r["value"])})
    return rows


def _oracle_closed(cfg, pages, lookups=None, delay=0):
    """The oracle's routed (line, sink) multiset at each group's closed
    boundaries once every page is seen: ``oracle.route`` of the
    ``oracle.aggregate`` rows at or below the last boundary the live
    watermark (largest event time of any group, minus ``delay``)
    passed. Returns it and that watermark."""
    from logmetrics_spark.oracle import aggregate, parse_pages, route

    dps = {lg.name: parse_pages(pages, lg, (lookups or {}).get(lg.lookup or ""))
           for lg in cfg.log_groups}
    seen = max(d["ts_sec"] for ds in dps.values() for d in ds)
    rows = []
    for lg in cfg.log_groups:
        bound = (seen - delay) // lg.interval * lg.interval
        rows += route([e for e in aggregate(dps[lg.name], lg) if e["boundary"] <= bound], cfg)
    return collections.Counter((r["line"], r["sink"]) for r in rows), seen - delay


def test_streaming_live_meter_count_equals_batch_total(spark, rest_cfg, stream_dirs):
    """The live meter state folds every micro-batch: the live rows are
    the oracle's over the closed windows, line for line, and the last
    live ``count`` per meter key equals the batch total of its
    datapoints in those windows."""
    lg = rest_cfg.log_groups[0]
    rows = _live_rows(
        spark, rest_cfg, stream_dirs["flat"], f"{stream_dirs['base']}/meters_out", max_files=1
    )
    expect, wm = _oracle_closed(rest_cfg, stream_dirs["pdf"].to_dict("records"))
    assert collections.Counter((r["line"], r["sink"]) for r in rows) == expect
    meters = [r for r in rows if r["metric_type"] == "meter"]
    assert meters, "live stream produced no meter rows"
    batch_counts = {
        r["key_id"]: r["total"]
        for r in fused_datapoints(spark.read.parquet(stream_dirs["flat"]), [(lg, None)])
        .filter((F.col("metric_type") == "meter") & (F.col("ts_sec") < wm // lg.interval * lg.interval))
        .groupBy("key_id")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    # the live count is cumulative, so its last value is its largest
    latest: dict = {}
    for r in meters:
        if r["ending"] == "count" and not r["is_zero"]:
            latest[r["key_id"]] = max(latest.get(r["key_id"], 0), int(r["value_num"]))
    assert set(latest) == set(batch_counts)
    for k, n in latest.items():
        assert batch_counts[k] == n, f"meter count mismatch for {k}"
    assert all(r["value_num"] >= 0 for r in meters if r["ending"].startswith("rate"))


def test_streaming_routed_foreachbatch_resume(spark, apache_cfg, stream_dirs, tmp_path):
    """foreachBatch end-to-end: routed rows appear per micro-batch;
    restarting with the same checkpoint does NOT reprocess committed
    files (offset resume)."""
    from logmetrics_spark.streaming.stream_pipeline import run_streaming_routed

    out = str(tmp_path / "sroute")
    q = run_streaming_routed(spark, apache_cfg, stream_dirs["flat"], out)
    q.awaitTermination(120)
    routed1 = spark.read.parquet(out + "/routed")
    n1 = routed1.count()
    assert n1 > 0
    assert {r["sink"] for r in routed1.select("sink").distinct().collect()} == {"sink_0", "sink_1"}
    assert routed1.filter(routed1.line.startswith("put apache.")).count() > 0

    # restart with same checkpoint: no new input -> no new rows
    q2 = run_streaming_routed(spark, apache_cfg, stream_dirs["flat"], out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out + "/routed").count() == n1


def test_streaming_equals_batch(spark, apache_cfg, stream_dirs, tmp_path):
    """North-rule parity: the streaming pipeline (2+ micro-batches,
    partials accumulated across batches, one global crunch) produces
    EXACTLY the batch pipeline's routed rows — cumulative counters,
    EWMAs, stale zero-outs and duplicate heartbeats included."""
    import collections

    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.streaming.stream_pipeline import run_streaming_routed

    out = str(tmp_path / "seq")
    run_streaming_routed(spark, apache_cfg, stream_dirs["flat"], out)
    got = collections.Counter(
        (r["line"], r["sink"])
        for r in spark.read.parquet(out + "/routed").select("line", "sink").collect()
    )
    batch = run_pipeline(
        spark, apache_cfg, spark.read.parquet(stream_dirs["flat"]), io=None, write=False
    )
    expect = collections.Counter(
        (r["line"], r["sink"]) for r in batch.routed.select("line", "sink").collect()
    )
    assert got == expect


def test_streaming_meter_timeout_emits_zero(spark, rest_cfg, tmp_path):
    """Stale eviction pushes one zeroed snapshot (datapool.go:315-334)
    before the state drops: once the watermark passes the quiet key's
    stale boundary, the live crunch cuts it there."""
    import pandas as pd

    lg = dataclasses.replace(rest_cfg.log_groups[0], stale_treshold_min=1)
    src = str(tmp_path / "pages")
    base_line = (
        "Jan  1 00:00:{s:02d} rest01.example rest_a.api: blah [c:q] (10) "
        "[bnt:1/2] [sql:1/2] [membase:1/2] [memcache:1/2] [other:1/2]"
    )
    early = pd.DataFrame(
        [("https://rest01.mynetwork/x", pd.Timestamp("2024-01-01 00:00:00"), b"",
          base_line.format(s=1), "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    late_line = (
        base_line.format(s=2)
        .replace("Jan  1 00:00:02", "Jan  1 01:00:00")
        .replace("rest01.example", "rest02.example")
    )
    late = early.assign(text=late_line, url="https://rest02.mynetwork/x")
    spark.createDataFrame(early).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(late).coalesce(1).write.parquet(src + "/b2")
    flat = str(tmp_path / "flat")
    import glob as _g
    import os as _os
    import shutil

    _os.makedirs(flat)
    for i, f in enumerate(sorted(_g.glob(src + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/file{i}.parquet")

    rows = _live_rows(
        spark, dataclasses.replace(rest_cfg, log_groups=(lg,)), flat, str(tmp_path / "zout"),
        max_files=1,
    )
    meters = [r for r in rows if r["metric_type"] == "meter"]
    zeroed = [r for r in meters if r["is_zero"]]
    assert zeroed, f"no zeroed eviction snapshot emitted; rows={meters}"
    assert all(r["value_num"] == 0.0 for r in zeroed)
    # the early key (rest01) is the one evicted, at its stale boundary,
    # and nothing follows the zeroed snapshot (the state is gone)
    early = [r for r in meters if "host=rest01" in r["key_id"]]
    assert {r["key_id"] for r in zeroed} == {r["key_id"] for r in early}
    for key in {r["key_id"] for r in early}:
        mine = [r for r in early if r["key_id"] == key]
        cut = max(r["boundary"] for r in mine if r["is_zero"])
        assert all(r["boundary"] <= cut for r in mine)
        assert all(r["is_zero"] for r in mine if r["boundary"] == cut)
        last = max(r["ts"] for r in mine if not r["is_zero"] and not r["is_dup"])
        assert cut - last >= lg.stale_treshold_min * 60


def test_streaming_incremental_growth_equals_batch(spark, apache_cfg, tmp_path):
    """Files arriving BETWEEN runs: first drain processes f0, a second
    drain (same checkpoint) processes only the new f1, and the
    re-finalized routed output equals the batch pipeline over both —
    the glob-poller discovery + incremental aggregation story."""
    import collections
    import glob as _g
    import shutil

    import numpy as np

    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf
    from logmetrics_spark.streaming.stream_pipeline import run_streaming_routed

    spec = SynthSpec(n_rows=80, time_span_seconds=300)
    pdf = gen_pages_pdf(np.arange(80), spec)
    stage = str(tmp_path / "stage")
    spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.parquet(stage + "/a")
    spark.createDataFrame(pdf.iloc[40:]).coalesce(1).write.parquet(stage + "/b")
    live = str(tmp_path / "live")
    import os as _os

    _os.makedirs(live)
    files = sorted(_g.glob(stage + "/*/part-*.parquet"))
    shutil.copy(files[0], live + "/f0.parquet")

    out = str(tmp_path / "inc")
    run_streaming_routed(spark, apache_cfg, live, out)  # drains f0, finalizes
    n_first = spark.read.parquet(out + "/routed").count()

    shutil.copy(files[1], live + "/f1.parquet")  # new file discovered
    run_streaming_routed(spark, apache_cfg, live, out)  # drains ONLY f1

    got = collections.Counter(
        (r["line"], r["sink"])
        for r in spark.read.parquet(out + "/routed").select("line", "sink").collect()
    )
    batch = run_pipeline(spark, apache_cfg, spark.read.parquet(live), io=None, write=False)
    expect = collections.Counter(
        (r["line"], r["sink"]) for r in batch.routed.select("line", "sink").collect()
    )
    assert got == expect
    assert sum(got.values()) > n_first  # the second drain extended the output


def test_out_of_order_file_batch_and_routed_stream_equal_oracle(
    spark, rest_cfg, apache_cfg, tmp_path
):
    """Rows later than the watermark on the batch and routed-stream
    paths: the file holding the earliest pages (by ``warc_ts``) is
    picked up last, in a micro-batch after the one that read every
    later page. The routed stream stages associative partials, so it
    drops nothing; both paths give exactly the oracle's (line, sink)
    Counter. The stream reads 4 files per trigger, so the early file
    is the fifth by mtime."""
    import collections

    from logmetrics_spark.oracle import run_oracle
    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf
    from logmetrics_spark.streaming.stream_pipeline import run_streaming_routed

    cfg = _merged_cfg(rest_cfg, apache_cfg)
    pdf = gen_pages_pdf(np.arange(120), SynthSpec(n_rows=120, time_span_seconds=400))
    by_ts = pdf.sort_values("warc_ts", kind="stable")
    chunks = [by_ts.iloc[i : i + 24] for i in range(0, 120, 24)]
    arrival = chunks[1:] + chunks[:1]  # the earliest pages come last
    src = str(tmp_path / "pages")
    for i, chunk in enumerate(arrival):
        _drop_pages(spark, tmp_path, src, f"f{i}", list(chunk.itertuples(index=False, name=None)),
                    mtime=1_700_000_000 + 10 * i)
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    orc = collections.Counter(
        (r["line"], r["sink"])
        for r in run_oracle(
            [r for c in arrival for r in c.to_dict("records")], cfg,
            {"hosts": gen_hosts_lookup_dict()},
        )
    )

    out = str(tmp_path / "out")
    run_streaming_routed(spark, cfg, src, out, lookups=lk)
    parts = spark.read.parquet(out + "/partials")
    first_w = {
        r["batch_id"]: r["w"] for r in parts.groupBy("batch_id").agg(F.min("w").alias("w")).collect()
    }
    assert sorted(first_w) == [0, 1] and first_w[1] < first_w[0]
    got = collections.Counter(
        (r["line"], r["sink"]) for r in spark.read.parquet(out + "/routed").collect()
    )
    assert got == orc

    batch = run_pipeline(spark, cfg, spark.read.parquet(src), io=None, lookups=lk, write=False)
    assert collections.Counter((r["line"], r["sink"]) for r in batch.routed.collect()) == orc


def test_streaming_live_histogram_converges_to_batch_reservoir(spark, rest_cfg, stream_dirs):
    """The live rows are the oracle's over the closed windows, and the
    live reservoir's last non-duplicate snapshot per key equals the
    deterministic top-s reservoir computed directly from its datapoints
    in those windows (saved state merge law == batch combiner law)."""
    from logmetrics_spark.contracts import h52_py, md5_52_py
    from logmetrics_spark.timemetrics import (
        HistogramState,
        format_value,
        np_priorities,
        np_uniform_from_hash52,
    )

    lg = rest_cfg.log_groups[0]
    rows = _live_rows(
        spark, rest_cfg, stream_dirs["flat"], f"{stream_dirs['base']}/hist_out", max_files=1
    )
    expect, wm = _oracle_closed(rest_cfg, stream_dirs["pdf"].to_dict("records"))
    assert collections.Counter((r["line"], r["sink"]) for r in rows) == expect
    snaps = [
        r for r in rows
        if r["metric_type"] == "histogram" and not r["is_dup"] and not r["is_zero"]
    ]
    assert snaps, "live stream produced no histogram snapshots"
    # last snapshot per key: the one at the key's latest update time;
    # ties would make "last" ambiguous, so pin that there are none
    latest_ts: dict = {}
    for r in snaps:
        latest_ts[r["key_id"]] = max(latest_ts.get(r["key_id"], r["ts"]), r["ts"])
    latest: dict = {}
    for r in snaps:
        if r["ts"] == latest_ts[r["key_id"]]:
            assert r["ending"] not in latest.setdefault(r["key_id"], {}), r
            latest[r["key_id"]][r["ending"]] = r["value"]

    dp = (
        fused_datapoints(spark.read.parquet(stream_dirs["flat"]), [(lg, None)])
        .filter((F.col("metric_type") == "histogram")
                & (F.col("ts_sec") < wm // lg.interval * lg.interval))
        .collect()
    )
    by_key: dict = {}
    for r in dp:
        by_key.setdefault(r["key_id"], []).append(r)
    assert set(by_key) == set(latest)
    for key, recs in by_key.items():
        hs = HistogramState(size=lg.histogram_size, alpha=lg.histogram_alpha_decay)
        h52 = np.array(
            [h52_py(md5_52_py(key), r["record_id"]) for r in recs],
            dtype="float64",
        )
        pris = np_priorities(
            np.array([r["ts_sec"] for r in recs], dtype="float64"),
            np_uniform_from_hash52(h52),
            lg.histogram_alpha_decay,
        )
        hs.merge_candidates(
            [(float(p), int(r["record_id"]), int(r["value"])) for p, r in zip(pris, recs)],
            max(float(r["ts_sec"]) for r in recs),
        )
        snap = hs.snapshot()
        got = latest[key]
        # live rows carry the routed value string, so the snapshot is
        # compared as the line renders it
        for ending in ("sample_size", "min", "max", "mean", "p95"):
            assert got[ending] == format_value(snap[ending]), (key, ending)


def test_streaming_live_heartbeats_match_batch_dups(spark, rest_cfg, tmp_path):
    """send_duplicates parity for the LIVE view (r03): a key that goes
    quiet keeps re-emitting unchanged snapshots at every interval
    boundary the watermark passes — and those heartbeat LINES are
    byte-identical to the batch crunch's dup rows for the same
    boundaries (meter decay included)."""
    import pandas as pd

    from logmetrics_spark.plans.pipeline import run_pipeline

    line = (
        "Jan  1 00:{m:02d}:{s:02d} {host}.example rest_a.api: blah [c:q] (10) "
        "[bnt:1/2] [sql:3/4] [membase:1/2] [memcache:1/2] [other:1/2]"
    )

    def page(url, host, m, s):
        return (url, pd.Timestamp("2024-01-01"), b"", line.format(host=host, m=m, s=s), "en")

    cols = ["url", "warc_ts", "html", "text", "lang"]
    quiet = "https://rest01.mynetwork/q"
    active = "https://rest02.mynetwork/a"
    batches = [
        [page(quiet, "rest01", 0, 1), page(active, "rest02", 0, 5)],
        [page(active, "rest02", 1, 0)],
        [page(active, "rest02", 2, 0)],
        [page(active, "rest02", 3, 0)],
    ]
    src = str(tmp_path / "pages")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(pd.DataFrame(rows, columns=cols)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/part{i}")
        import glob as _g
        import shutil

        for f in _g.glob(f"{tmp_path}/part{i}/part-*.parquet"):
            shutil.copy(f, f"{src}/file{i}.parquet")

    q = run_streaming_live(spark, rest_cfg, src, str(tmp_path / "out"))
    q.awaitTermination(180)
    live = spark.read.parquet(str(tmp_path / "out" / "routed_live")).collect()
    live_dups = {r["line"] for r in live if r["is_dup"] and "host=rest01.example" in r["tags"]}
    assert live_dups, "no heartbeat rows for the quiet key"

    all_pages = spark.createDataFrame(
        pd.DataFrame([p for b in batches for p in b], columns=cols)
    )
    batch = run_pipeline(spark, rest_cfg, all_pages, write=False).routed.collect()
    batch_dups = {r["line"] for r in batch if r["is_dup"] and "host=rest01.example" in r["tags"]}
    missing = live_dups - batch_dups
    assert not missing, f"live heartbeat lines not in batch dups: {sorted(missing)[:5]}"
    # the live view must have covered more than one heartbeat boundary
    assert len({r["boundary"] for r in live if r["is_dup"] and "host=rest01.example" in r["tags"]}) >= 2


def test_streaming_live_enriches_like_batch(spark, apache_cfg, stream_dirs, tmp_path):
    """A log group with a lookup renders the lookup's tags in the live
    view too: the live stream takes the same ``lookups`` as batch, and
    with all pages in one micro-batch every non-duplicate live line
    (meter rates included) equals the batch line for the same key,
    boundary and metric."""
    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf

    lg = apache_cfg.log_groups[0]
    assert lg.lookup == "hosts"
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    out = str(tmp_path / "out")
    q = run_streaming_live(spark, apache_cfg, stream_dirs["flat"], out, lookups=lk)
    q.awaitTermination(180)

    def comparable(r):
        return not r["is_dup"] and not r["is_zero"]

    live = [r for r in spark.read.parquet(out + "/routed_live").collect() if comparable(r)]
    assert live, "live stream produced no comparable rows"
    assert all(" cluster=" in r["line"] and " dc=" in r["line"] for r in live)
    batch = {
        (r["key_id"], r["boundary"], r["metric"]): r["line"]
        for r in run_pipeline(
            spark, apache_cfg, spark.read.parquet(stream_dirs["flat"]),
            lookups=lk, write=False,
        ).routed.collect()
        if comparable(r)
    }
    for r in live:
        assert batch.get((r["key_id"], r["boundary"], r["metric"])) == r["line"], r["line"]


_REST_LINE = (
    "Jan  1 {hms} {host}.example rest_a.api: blah [c:q] ({v}) "
    "[bnt:1/2] [sql:3/4] [membase:1/2] [memcache:1/2] [other:1/2]"
)
_APACHE_LINE = "1.2.3.4\tx\ty\t01/Jan/2024:{hms} +0000\tGET\t/p\tHTTP/1.1\t200\t{v}\tr\tu\t456"


def _two_group_pages(hms: str, n: int, v: int, groups=("rest", "apache")) -> list:
    """Pages of the rest and/or apache group, all stamped ``hms`` on
    2024-01-01; ``n`` picks the host (rest0N / wwwN)."""
    import pandas as pd

    day = pd.Timestamp("2024-01-01")
    rows = []
    if "rest" in groups:
        rows.append((f"https://rest0{n}.mynetwork/q", day, b"",
                     _REST_LINE.format(hms=hms, host=f"rest0{n}", v=v), "en"))
    if "apache" in groups:
        rows.append((f"https://www{n}.apache.example/httpd_access/", day, b"",
                     _APACHE_LINE.format(hms=hms, v=v), "en"))
    return rows


def _drop_pages(spark, tmp_path, src: str, name: str, rows: list, mtime: float | None = None) -> str:
    """Write ``rows`` as ONE parquet file ``<src>/<name>.parquet`` (a
    newly discovered file of the stream); ``mtime`` pins the order in
    which the file source picks files up."""
    import glob as _g
    import shutil

    import pandas as pd

    stage = str(tmp_path / f"stage_{name}")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    ).coalesce(1).write.parquet(stage)
    os.makedirs(src, exist_ok=True)
    dst = f"{src}/{name}.parquet"
    shutil.copy(_g.glob(f"{stage}/part-*.parquet")[0], dst)
    if mtime is not None:
        os.utime(dst, (mtime, mtime))
    return dst


def _merged_cfg(rest_cfg, apache_cfg):
    import dataclasses

    return dataclasses.replace(
        rest_cfg, log_groups=tuple(rest_cfg.log_groups) + tuple(apache_cfg.log_groups)
    )


def test_streaming_live_multi_group(spark, rest_cfg, apache_cfg, tmp_path):
    """A multi-group config runs as ONE streaming query (one crunch
    dispatching per key), with one checkpoint and one sink root; each group's routed-live lines equal a single-config live run
    of that group on the same input. The groups' parameters differ
    (rest: ewma 30 s, stale 15 min; apache: ewma 5 s, stale 10 min), so
    equality shows every key runs its own group's parameters."""
    from pyspark.sql.streaming import StreamingQuery

    merged = _merged_cfg(rest_cfg, apache_cfg)
    src = str(tmp_path / "pages")
    # host 1 of each group is active for 2.5 min, then quiet; host 2's
    # page at 00:14:00 moves the watermark past apache's stale cut
    # (00:12:30) but not rest's (00:17:30). Six files at
    # maxFilesPerTrigger 4 make two data micro-batches.
    times = ["00:00:01", "00:00:40", "00:01:20", "00:02:00", "00:02:30", "00:14:00"]
    for i, hms in enumerate(times):
        _drop_pages(spark, tmp_path, src, f"f{i}",
                    _two_group_pages(hms, 2 if i == 5 else 1, 100 + 37 * i),
                    mtime=1_700_000_000 + i)

    def lines_by_group(cfg, name):
        out = str(tmp_path / name)
        q = run_streaming_live(spark, cfg, src, out)
        rows = spark.read.parquet(out + "/routed_live").select("group", "line", "is_zero").collect()
        by_group: dict = {}
        for r in rows:
            by_group.setdefault(r["group"], collections.Counter())[r["line"]] += 1
        return q, out, by_group, rows

    q, out, merged_lines, rows = lines_by_group(merged, "out")
    assert isinstance(q, StreamingQuery) and not q.isActive
    assert [d for d in os.listdir(out) if d.startswith("ck")] == ["ck_live"]
    sink = os.path.join(out, "routed_live")
    parts = [d for d in os.listdir(sink) if "=" in d]
    assert parts and all(d.startswith("batch_id=") for d in parts), "per-group sink dirs"
    assert set(merged_lines) == {"rest.api", "apache_reverse_proxy"}
    assert all(line.startswith("put ") for c in merged_lines.values() for line in c)

    for lg in merged.log_groups:
        single = dataclasses.replace(merged, log_groups=(lg,))
        _, _, alone, _ = lines_by_group(single, f"out_{lg.name}")
        assert set(alone) == {lg.name}
        assert merged_lines[lg.name] == alone[lg.name], lg.name
    # the stale cut fired for apache's quiet keys only (10 vs 15 min)
    zeroed = {r["group"] for r in rows if r["is_zero"]}
    assert zeroed == {"apache_reverse_proxy"}


def _committed_sink_files(sink: str) -> set:
    """Paths of every data file in the sink's ``batch_id=N`` partitions.
    Dynamic partition overwrite writes a batch's files under a hidden
    ``.spark-staging-*`` directory of the sink and moves the partition
    in whole when the write job commits."""
    return {
        os.path.join(sink, d, f)
        for d in os.listdir(sink) if d.startswith("batch_id=")
        for f in os.listdir(os.path.join(sink, d)) if not f.startswith((".", "_"))
    }


def test_streaming_live_multi_group_concurrent(spark, rest_cfg, apache_cfg, tmp_path):
    """CONTINUOUS multi-group live run (available_now=False): one query
    serves both groups, and reading its sink root WHILE it runs sees
    both groups' put lines from committed files only (whole
    ``batch_id=N`` partitions, never a staged file). The second page
    closes the first page's window."""
    import time
    from urllib.parse import urlparse

    from pyspark.errors.exceptions.captured import AnalysisException
    from pyspark.sql.streaming import StreamingQuery

    src = str(tmp_path / "pages")
    _drop_pages(spark, tmp_path, src, "f0", _two_group_pages("00:00:01", 1, 10))
    _drop_pages(spark, tmp_path, src, "f1", _two_group_pages("00:00:20", 1, 12))
    out = str(tmp_path / "out")
    sink = os.path.join(out, "routed_live")
    q = run_streaming_live(
        spark, _merged_cfg(rest_cfg, apache_cfg), src, out, available_now=False
    )
    assert isinstance(q, StreamingQuery)
    try:
        assert q.isActive and len(spark.streams.active) == 1
        deadline = time.time() + 180
        seen: set[str] = set()
        rows, files = [], []
        while time.time() < deadline and len(seen) < 2:
            q.awaitTermination(2)  # raises if the query failed
            try:
                df = spark.read.parquet(sink)
                rows, files = df.collect(), df.inputFiles()
            except AnalysisException:
                continue  # nothing committed yet
            seen = {r["group"] for r in rows}
        assert seen == {"rest.api", "apache_reverse_proxy"}, seen
        assert q.isActive and len(spark.streams.active) == 1
        assert files and {urlparse(f).path for f in files} <= _committed_sink_files(sink)
        assert all(r["line"].startswith("put ") for r in rows)
    finally:
        q.stop()
    q.awaitTermination(60)
    assert not q.isActive and q.exception() is None


def test_streaming_live_unknown_group_fails_query(spark, rest_cfg, apache_cfg, tmp_path):
    """A saved key whose group the config lacks fails the live query
    loudly, naming the group — it is never silently dropped: restarting
    a two-group live view with a config of one group raises once the
    next micro-batch crunches the other group's saved state."""
    from pyspark.errors import StreamingQueryException

    src, out = str(tmp_path / "pages"), str(tmp_path / "out")
    _drop_pages(spark, tmp_path, src, "f0", _two_group_pages("00:00:01", 1, 10),
                mtime=1_700_000_000)
    run_streaming_live(spark, _merged_cfg(rest_cfg, apache_cfg), src, out)
    saved = spark.read.parquet(out + "/state_live").select("group").distinct().collect()
    assert {r["group"] for r in saved} == {"rest.api", "apache_reverse_proxy"}
    _drop_pages(spark, tmp_path, src, "f1", _two_group_pages("00:00:20", 1, 12, ("rest",)),
                mtime=1_700_000_010)
    with pytest.raises(StreamingQueryException, match="unknown log group 'apache_reverse_proxy'"):
        run_streaming_live(spark, rest_cfg, src, out)


def test_streaming_live_shared_watermark_counts_late_rows(spark, rest_cfg, apache_cfg, tmp_path):
    """One live query has ONE event-time watermark for all groups: a
    later micro-batch whose apache rows fall in windows the rest
    group's earlier maximum already closed drops them as late, and the
    live driver counts every one of them (no row vanishes unobserved;
    it counts partial rows, and each late datapoint here is a key of
    its own).
    With a watermark per group, as one query per group had, they were
    kept. The rest page at 00:10:20 closes the window of the rest
    group's other pages, so both groups emit."""
    from logmetrics_spark.plans.pipeline import group_lookups

    src = str(tmp_path / "pages")
    _drop_pages(
        spark, tmp_path, src, "f0",
        _two_group_pages("00:10:00", 1, 10, ("rest",))
        + _two_group_pages("00:00:01", 1, 10, ("apache",)),
        mtime=1_700_000_000,
    )
    _drop_pages(
        spark, tmp_path, src, "f1",
        _two_group_pages("00:10:05", 1, 15, ("rest",))
        + _two_group_pages("00:10:20", 1, 16, ("rest",)),
        mtime=1_700_000_050,
    )
    late = _drop_pages(
        spark, tmp_path, src, "f2", _two_group_pages("00:01:00", 1, 20, ("apache",)),
        mtime=1_700_000_100,
    )
    cfg = _merged_cfg(rest_cfg, apache_cfg)
    out = str(tmp_path / "out")
    q = _drain_live(spark, cfg, src, out, max_files=1)

    late_dp = fused_datapoints(spark.read.parquet(late), group_lookups([cfg], None)).collect()
    assert late_dp
    progress = q.lastProgress  # the late file's micro-batch: one page
    assert progress["batchId"] == 2 and progress["numInputRows"] == 1
    assert _late(out) == [0, 0, len(late_dp)]
    # the late rows reached no key's state: no live row carries them
    live = spark.read.parquet(out + "/routed_live").collect()
    assert {r["group"] for r in live} == {"rest.api", "apache_reverse_proxy"}
    late_ts = {r["ts_sec"] for r in late_dp}
    assert not [r for r in live if not r["is_dup"] and r["ts"] in late_ts]


def _time_ordered_files(spark, tmp_path, src, n_pages, n_files, span):
    """SynthSpec pages sorted by time into ``n_files`` files that the
    file source picks up in that order. Returns the pages."""
    pdf = gen_pages_pdf(np.arange(n_pages), SynthSpec(n_rows=n_pages, time_span_seconds=span))
    pdf = pdf.sort_values("warc_ts", kind="stable").reset_index(drop=True)
    for i, chunk in enumerate(np.array_split(np.arange(n_pages), n_files)):
        _drop_pages(spark, tmp_path, src, f"f{i}",
                    list(pdf.iloc[chunk].itertuples(index=False, name=None)),
                    mtime=1_700_000_000 + 10 * i)
    return pdf


def test_streaming_live_equals_oracle(spark, rest_cfg, apache_cfg, tmp_path):
    """The live view of both fixture groups as shipped (15 s windows,
    heartbeats, stale removal, the hosts lookup), drained at 1 and at 4
    files per micro-batch, routes exactly the oracle's (line, sink)
    multiset at the boundaries up to each group's last closed one: the
    live rows do not depend on where the micro-batches are cut. The
    files arrive in time order and the 10 s watermark covers a page's
    line offsets, so no datapoint is late."""
    from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf

    cfg = _merged_cfg(rest_cfg, apache_cfg)
    src = str(tmp_path / "pages")
    pdf = _time_ordered_files(spark, tmp_path, src, 160, 8, 1500)
    expect, _ = _oracle_closed(cfg, pdf.to_dict("records"), {"hosts": gen_hosts_lookup_dict()},
                               delay=10)
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    for max_files in (1, 4):
        out = str(tmp_path / f"out{max_files}")
        _drain_live(spark, cfg, src, out, max_files, lookups=lk, watermark="10 seconds")
        assert _late(out) == [0] * (8 // max_files)
        assert _digest(spark, out) == expect, max_files
        flags = spark.read.parquet(out + "/routed_live").select("is_dup", "is_zero").collect()
        assert any(r["is_dup"] for r in flags) and any(r["is_zero"] for r in flags)


def test_streaming_live_converges_after_replay_and_restart(spark, rest_cfg, apache_cfg, tmp_path):
    """The live view's outputs are per micro-batch, from the state the
    batch before left. (1) A micro-batch replayed after a crash between
    its writes and the checkpoint commit (its commit log entry removed,
    then a restart) rewrites its own partitions: the (line, sink)
    digest of ``routed_live`` is unchanged. (2) A drain stopped after
    two micro-batches and restarted from its checkpoint once the other
    files arrive equals one uninterrupted drain."""
    import shutil

    cfg = _merged_cfg(rest_cfg, apache_cfg)
    src = str(tmp_path / "pages")
    _time_ordered_files(spark, tmp_path, src, 80, 4, 600)
    full = str(tmp_path / "full")
    _drain_live(spark, cfg, src, full, 1)
    want = _digest(spark, full)
    assert want

    for name in ("3", ".3.crc"):  # the commit log entry and its checksum
        os.remove(os.path.join(full, "ck_live", "commits", name))
    q = _drain_live(spark, cfg, src, full, 1)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [3]
    assert _digest(spark, full) == want

    part = str(tmp_path / "part")
    os.makedirs(part)
    for i in range(4):
        if i == 2:
            _drain_live(spark, cfg, part, str(tmp_path / "restarted"), 1)
        shutil.copy2(f"{src}/f{i}.parquet", part)
    _drain_live(spark, cfg, part, str(tmp_path / "restarted"), 1)
    assert _late(str(tmp_path / "restarted")) == [0, 0, 0, 0]
    assert _digest(spark, str(tmp_path / "restarted")) == want


def test_streaming_ingest_dedup_grows_corpus(spark, tmp_path):
    """Streaming ingest dedup: a clone arriving in a LATER micro-batch
    of a doc kept in an EARLIER one is dropped (the index grows with
    every kept batch), within-batch clones collapse to the min-id doc,
    and restarts with the same checkpoint process only new files."""
    import pandas as pd

    from logmetrics_spark.streaming.ingest_dedup import (
        run_streaming_ingest_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the orbital telescope before dawn and the "
        "harbor lighthouse rotates its beam across the frozen bay"
    )
    fresh1 = "completely unrelated corpus content about spark physical plans"
    fresh2 = "a genuinely fresh document with brand new tokens entirely"
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)

    def drop_file(name: str, rows: list[tuple[int, str]]) -> None:
        import glob as _g
        import shutil

        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        ).coalesce(1).write.parquet(stage)
        for f in _g.glob(f"{stage}/part-*.parquet"):
            shutil.copy(f, f"{docs_dir}/{name}.parquet")

    # batch 1: 2 is a within-batch clone of 1; 3 is fresh
    drop_file("b1", [(1, base), (2, base + " tonight"), (3, fresh1)])
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    q, sink = run_streaming_ingest_dedup(spark, docs_dir, out, ck, threshold=0.3)
    q.awaitTermination(120)
    assert sorted(r["doc_id"] for r in sink.kept_docs(spark).collect()) == [1, 3]

    # batch 2: 10 clones batch-1's KEPT doc 1 (cross-batch dup via the
    # grown index); 11 is fresh
    drop_file("b2", [(10, base + " again"), (11, fresh2)])
    q2, sink = run_streaming_ingest_dedup(spark, docs_dir, out, ck, threshold=0.3)
    q2.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in sink.kept_docs(spark).collect())
    assert kept == [1, 3, 11], kept
    # the index grew with every kept batch: entries cover all kept docs
    idx_ids = {
        r["id"]
        for r in spark.read.parquet(sink.entries_dir).select("id").distinct().collect()
    }
    assert idx_ids == {1, 3, 11}


def test_ingest_dedup_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch re-delivered after a
    crash BETWEEN the partition writes and the checkpoint commit runs
    the sink again with the same batch_id. The replay must not see the
    batch's own previous output in the index (it would match every doc
    against its identical self and overwrite the partition EMPTY —
    permanently dropping the batch); it must rewrite bit-identical
    results. Also pins the cache hygiene: every RDD the sink pins per
    batch is unpersisted before it returns."""
    import pandas as pd

    from logmetrics_spark.streaming.ingest_dedup import IngestDedupSink

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the orbital telescope before dawn"
    )
    fresh = "completely unrelated corpus content about spark physical plans"
    sink = IngestDedupSink(str(tmp_path / "corpus"), threshold=0.3)
    # other tests in the shared session may have left lazy caches;
    # assert the SINK adds none, not that the session is pristine
    cached_before = (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )

    b0 = spark.createDataFrame(
        pd.DataFrame([(1, base), (3, fresh)], columns=["doc_id", "text"])
    )
    sink(b0, 0)
    # batch 1: doc 10 clones kept doc 1 (dropped), doc 11 is fresh
    b1 = spark.createDataFrame(
        pd.DataFrame(
            [(10, base + " again"), (11, fresh + " with brand new tokens")],
            columns=["doc_id", "text"],
        )
    )
    sink(b1, 1)
    kept_first = sorted(r["doc_id"] for r in sink.kept_docs(spark).collect())
    assert kept_first == [1, 3, 11], kept_first

    # replay batch 1 (same batch_id, same data): output unchanged —
    # in particular batch 1's partition is NOT emptied by self-matching
    sink(b1, 1)
    kept_replay = sorted(r["doc_id"] for r in sink.kept_docs(spark).collect())
    assert kept_replay == [1, 3, 11], kept_replay
    idx_ids = {
        r["id"]
        for r in spark.read.parquet(sink.entries_dir).select("id").distinct().collect()
    }
    assert idx_ids == {1, 3, 11}
    # no CacheManager-cached plan survives the batches (continuous
    # runs must not leak; localCheckpoint RDDs are excluded — those
    # are weakly held and reclaimed by the ContextCleaner on GC)
    cached_after = (
        spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    )
    assert cached_after <= cached_before, (cached_before, cached_after)


def test_ingest_dedup_all_duplicate_batch_does_not_wedge(spark, tmp_path):
    """A micro-batch whose every doc duplicates the corpus keeps
    NOTHING; the sink must not write its three empty partition dirs
    (an empty parquet dir has no schema to infer, so the NEXT batch's
    index read would raise UNABLE_TO_INFER_SCHEMA — not the
    path-missing 'no corpus yet' condition — and permanently wedge
    the stream). The stream must keep ingesting afterwards."""
    import os

    import pandas as pd

    from logmetrics_spark.streaming.ingest_dedup import IngestDedupSink

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the orbital telescope before dawn"
    )
    sink = IngestDedupSink(str(tmp_path / "corpus"), threshold=0.3)
    b0 = spark.createDataFrame(
        pd.DataFrame([(1, base)], columns=["doc_id", "text"])
    )
    sink(b0, 0)
    # batch 1: a pure clone — everything drops against the corpus
    b1 = spark.createDataFrame(
        pd.DataFrame([(10, base + " again")], columns=["doc_id", "text"])
    )
    sink(b1, 1)
    for d in (sink.kept_dir, sink.entries_dir, sink.shingles_dir):
        assert not os.path.exists(os.path.join(d, "ingest_batch=1")), d
    # batch 2 (fresh content) must still read the index and land
    b2 = spark.createDataFrame(
        pd.DataFrame(
            [(20, "completely unrelated corpus content about spark plans")],
            columns=["doc_id", "text"],
        )
    )
    sink(b2, 2)
    kept = sorted(r["doc_id"] for r in sink.kept_docs(spark).collect())
    assert kept == [1, 20], kept
