"""Resumable execution tests: per-unit lineage, crash-resume, and
resumable-vs-single-shot routed-row equality."""

import collections
import json
import os

import numpy as np
import pytest

from logmetrics_spark.plans.lineage import LineageStore, plan_units, run_resumable
from logmetrics_spark.plans.pipeline import run_pipeline
from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lineage")
    path = str(base / "pages")
    spec = SynthSpec(n_rows=100, time_span_seconds=300)
    pdf = gen_pages_pdf(np.arange(100), spec)
    spark.createDataFrame(pdf).repartition(4).write.mode("overwrite").parquet(path)
    return {"path": path, "base": str(base)}


def test_resume_skips_done_units(spark, apache_cfg, pages_dir):
    work = f"{pages_dir['base']}/work1"
    r1 = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r1["units_computed"] == 4 and r1["units_skipped"] == 0
    r2 = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r2["units_computed"] == 0 and r2["units_skipped"] == 4
    assert r1["routed_rows"] == r2["routed_rows"] > 0


def test_crash_resume_recomputes_only_missing(spark, apache_cfg, pages_dir):
    work = f"{pages_dir['base']}/work2"
    run_resumable(spark, apache_cfg, pages_dir["path"], work)
    # simulate a crash that lost one unit's lineage commit
    lp = os.path.join(work, "lineage", "lineage.json")
    state = json.load(open(lp))
    victim = sorted(state)[0]
    del state[victim]
    json.dump(state, open(lp, "w"))
    r = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r["units_computed"] == 1 and r["units_skipped"] == 3


def test_resumable_equals_single_shot(spark, apache_cfg, pages_dir):
    work = f"{pages_dir['base']}/work3"
    run_resumable(spark, apache_cfg, pages_dir["path"], work)
    from logmetrics_spark.sources.tableio import TableIO

    io = TableIO(root=os.path.join(work, "out"))
    resumable_rows = collections.Counter(
        (r["line"], r["sink"]) for r in io.read(spark, "routed").collect()
    )
    single = run_pipeline(
        spark, apache_cfg, spark.read.parquet(pages_dir["path"]), io=None, write=False
    )
    single_rows = collections.Counter(
        (r["line"], r["sink"]) for r in single.routed.collect()
    )
    assert resumable_rows == single_rows


def test_lineage_entries_carry_audit_fields(spark, apache_cfg, pages_dir):
    work = f"{pages_dir['base']}/work1"  # already run
    store = LineageStore(os.path.join(work, "lineage"))
    state = store.load()
    assert len(state) == 4
    for entry in state.values():
        assert entry["status"] == "done"
        assert entry["rows"] >= 0 and "checksum" in entry and entry["path"]


def test_stage1_batches_all_units_in_two_jobs(spark, apache_cfg, tmp_path):
    """>10 pending units must cost exactly 2 Spark jobs (one batched
    write, one stats read-back) — not 2 jobs PER unit (the v1 serial
    loop; thousands of driver round-trips at 10^12 rows)."""
    from logmetrics_spark.plans.lineage import LineageStore, run_stage1_units

    path = str(tmp_path / "pages")
    spec = SynthSpec(n_rows=240, time_span_seconds=300)
    pdf = gen_pages_pdf(np.arange(240), spec)
    spark.createDataFrame(pdf).repartition(12).write.mode("overwrite").parquet(path)

    store = LineageStore(str(tmp_path / "lineage"))
    sc = spark.sparkContext
    sc.setJobGroup("stage1-batch", "lineage stage1 job-count probe")
    try:
        done, computed = run_stage1_units(
            spark, apache_cfg, path, str(tmp_path / "staging"), store
        )
    finally:
        sc.setJobGroup(None, None)
    assert done == 0 and computed == 12
    ids = sc.statusTracker().getJobIdsForGroup("stage1-batch")
    assert len(ids) <= 2, f"stage1 ran {len(ids)} jobs for 12 units"
    # every unit committed with audit fields
    state = store.load()
    assert len(state) == 12
    assert all(e["status"] == "done" for e in state.values())


def test_config_change_invalidates_resume(spark, apache_cfg, rest_cfg, pages_dir):
    """A lineage entry committed under a different pipeline config must
    not satisfy resume: without the fingerprint check, adding/editing a
    log group after a completed run silently contributed nothing."""
    import dataclasses

    work = f"{pages_dir['base']}/work_fp"
    r1 = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r1["units_computed"] == 4
    # same config -> full skip
    r2 = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r2["units_computed"] == 0
    # changed config (different interval) -> everything recomputes
    lgs = tuple(dataclasses.replace(lg, interval=300) for lg in apache_cfg.log_groups)
    changed = dataclasses.replace(apache_cfg, log_groups=lgs)
    r3 = run_resumable(spark, changed, pages_dir["path"], work)
    assert r3["units_computed"] == 4 and r3["units_skipped"] == 0


def test_unit_ids_distinct_across_partition_dirs(tmp_path):
    """Same part-file basename under different partition directories
    must hash to different unit ids (basenames are NOT unique within a
    partitioned parquet table)."""
    from logmetrics_spark.plans.lineage import _unit_id

    a = _unit_id("file:///data/pages/date=1/part-00000-abc.parquet")
    b = _unit_id("file:///data/pages/date=2/part-00000-abc.parquet")
    assert a != b
    # scheme spellings normalize to the same id
    assert _unit_id("file:/data/x/part-0.parquet") == _unit_id(
        "file:///data/x/part-0.parquet"
    ) == _unit_id("/data/x/part-0.parquet")


def test_config_change_purges_stale_unit_partitions(spark, apache_cfg, pages_dir):
    """Dynamic partition overwrite only replaces (u, g) partitions
    present in the NEW output — a recompute under a config whose group
    now matches NOTHING must not leave the old config's partials in
    staging (they'd be committed under the new cfg_fp and blended into
    the routed output)."""
    import dataclasses

    work = f"{pages_dir['base']}/work_purge"
    r1 = run_resumable(spark, apache_cfg, pages_dir["path"], work)
    assert r1["units_computed"] == 4 and r1["routed_rows"] > 0
    # tighten url_match so the SAME group produces zero rows everywhere
    lgs = tuple(
        dataclasses.replace(lg, url_match=r"^https://never\.matches\.example/")
        for lg in apache_cfg.log_groups
    )
    changed = dataclasses.replace(apache_cfg, log_groups=lgs)
    r2 = run_resumable(spark, changed, pages_dir["path"], work)
    assert r2["units_computed"] == 4
    assert r2["routed_rows"] == 0, (
        "stale partials from the previous config survived the recompute"
    )


def test_purge_staging_partitions_both_branches(spark, tmp_path):
    """purge_staging_partitions deletes u=<uid> trees spelled either
    way: a plain path (resolved against fs.defaultFS, as the staging
    write resolves it) and a URI (file:// here, as hdfs:// or s3a://
    would be), both through the Hadoop FileSystem API."""
    import os

    from logmetrics_spark.plans.lineage import purge_staging_partitions

    for scheme in ("", "file://"):
        staging = tmp_path / f"staging_{'uri' if scheme else 'plain'}"
        for uid in ("aaa", "bbb"):
            os.makedirs(staging / f"u={uid}" / "g=x", exist_ok=True)
            (staging / f"u={uid}" / "g=x" / "part-0.parquet").write_bytes(b"stale")
        purge_staging_partitions(spark, f"{scheme}{staging}", ["aaa", "missing"])
        assert not (staging / "u=aaa").exists(), scheme or "plain"
        assert (staging / "u=bbb" / "g=x" / "part-0.parquet").exists(), scheme or "plain"


def test_driver_local_files_take_file_uris_only(tmp_path):
    """The engine's own files (lineage, manifests) live on the driver:
    a file:// root is its path, and any other scheme fails naming the
    path instead of landing in a relative directory of that name."""
    from logmetrics_spark.sources.tableio import TableIO, local_path

    store = LineageStore(f"file://{tmp_path}/lineage")
    store.commit("u1", {"status": "done"})
    assert LineageStore(str(tmp_path / "lineage")).load() == {"u1": {"status": "done"}}
    assert TableIO(f"file://{tmp_path}").manifest_path("t") == f"{tmp_path}/_lm_manifests/t.json"
    for bad in ("hdfs://nn/work", "s3a://bucket/work", "file://otherhost/work"):
        with pytest.raises(ValueError, match=bad):
            local_path(bad)
