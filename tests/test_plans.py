"""Physical-plan regression tests: the scale contracts that sf0.001
row counts can't see. Each dedup/similarity scale path must compile to
hash equi-joins — a CartesianProduct or BroadcastNestedLoopJoin node
means the operator silently degraded to all-pairs and would not finish
at corpus scale. Also pins scan hygiene for the core pipeline (pushed
url filter, pruned columns)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logmetrics_spark.functions import dedup as D
from logmetrics_spark.functions import similarity as S

SF = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_simhash_pairs_no_cartesian(spark, docs):
    plan = _physical(D.simhash_pairs(docs, 3))
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in simhash_pairs plan"


def test_minhash_lsh_no_cartesian(spark, docs):
    plan = _physical(D.minhash_lsh_pairs(docs, 0.4))
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in minhash_lsh_pairs plan"


def test_incremental_lsh_no_cartesian(spark, docs):
    idx = D.minhash_index(docs.filter(F.col("doc_id") % 5 != 0))
    inc = D.minhash_lsh_incremental_pairs(
        docs.filter(F.col("doc_id") % 5 == 0), idx, 0.4, bucket_cap=64
    )
    plan = _physical(inc)
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in minhash_lsh_incremental_pairs plan"


def test_embedding_lsh_no_cartesian(spark, emb):
    plan = _physical(D.embedding_neardup_lsh(emb, 0.3))
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in embedding_neardup_lsh plan"


def test_embed_incremental_no_cartesian_and_broadcast_probe(spark, emb):
    """Incremental embedding dedup: no cartesian anywhere, and with
    broadcast_batch the batch side enters the index probe as a
    BroadcastHashJoin — the corpus entries are never shuffled."""
    idx = D.embedding_index(emb.filter(F.col("vec_id") % 5 != 0))
    inc = D.embedding_incremental_pairs(
        emb.filter(F.col("vec_id") % 5 == 0), idx, 0.3, bucket_cap=64
    )
    plan = _physical(inc)
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in embedding_incremental_pairs plan"
    assert "BroadcastHashJoin" in plan, "batch band entries should broadcast into the index probe"


def test_ivf_assignment_is_narrow(spark, emb):
    """Cell assignment must be a single mapInPandas over the scan —
    no per-vector window sort, no |emb| x |centroids| join."""
    assigned = S.assign_cells(emb, S.make_centroids(emb, 25), 1)
    plan = _physical(assigned)
    for node in FORBIDDEN + ("Window", "SortMergeJoin", "Exchange"):
        assert node not in plan, f"{node} in assign_cells plan"
    assert "MapInPandas" in plan


def test_ivf_topk_no_cartesian(spark, emb):
    plan = _physical(S.ivf_topk(emb, S.make_queries(emb, 50), S.make_centroids(emb, 25)))
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in ivf_topk plan"


def test_simhash_banding_equals_allpairs(spark):
    """Pigeonhole banding is exact: identical result set to the
    direct all-pairs Hamming filter on a corpus with known dups."""
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "text": [
                "alpha beta gamma delta", "alpha beta gamma delta",
                "alpha beta gamma epsilon", "one two three four",
                "one two three four five", "totally different words here",
                "alpha beta gamma delta zeta", "x y z w", "x y z w",
                "lorem ipsum dolor sit", "lorem ipsum dolor sat",
                "unrelated standalone doc",
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    sig = {r["id"]: r["simhash"] for r in D.simhash(docs).collect()}
    expect = set()
    ids = sorted(sig)
    for i in ids:
        for j in ids:
            if i < j and bin(sig[i] ^ sig[j]).count("1") <= 3:
                expect.add((i, j))
    got = {(r["id_a"], r["id_b"]) for r in D.simhash_pairs(docs, 3).collect()}
    assert got == expect


def test_embedding_lsh_subset_of_exact(spark, emb):
    """LSH pairs are a subset of the exact pairs with identical cos6
    (precision 1.0). Recall is asserted on PLANTED near-duplicates:
    the synthetic corpus's max pairwise cos is ~0.5, far below the
    near-dup regime the banding is designed for (8-bit bands give
    p(bit)^8 ~ 0.9^8 per band only when cos -> 1), so natural-pair
    recall at cos 0.3 is expectedly tiny while clone recall is ~1."""
    import numpy as np

    exact = {(r["id_a"], r["id_b"]): r["cos6"] for r in D.embedding_neardup_pairs(emb, 0.3).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos6"] for r in D.embedding_neardup_lsh(emb, 0.3).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]

    # plant 50 noisy clones (cos >= 0.999) and require recall >= 0.9
    base = emb.orderBy("vec_id").limit(50).toPandas()
    rng = np.random.default_rng(7)
    clones = base.copy()
    clones["vec_id"] = clones["vec_id"] + 100_000
    clones["embedding"] = [
        (np.asarray(v, dtype=np.float32) + rng.normal(0, 0.01, len(v)).astype(np.float32)).tolist()
        for v in base["embedding"]
    ]
    import pandas as _pd

    planted = emb.unionByName(
        emb.sparkSession.createDataFrame(clones, schema=emb.schema)
    )
    pairs = D.embedding_neardup_lsh(planted, 0.95)
    found = {
        (r["id_a"], r["id_b"]) for r in pairs.collect()
        if r["id_b"] == r["id_a"] + 100_000
    }
    assert len(found) >= 45, f"clone recall too low: {len(found)}/50"


def test_shingles_short_doc_guard(spark):
    """Docs with < n tokens yield no shingles (ADVICE: descending
    F.sequence blew up element_at under ANSI mode on 2-token docs)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["one two", "", "x", "a b c d"]})
    )
    rows = D.shingles(docs).collect()
    assert {r["id"] for r in rows} == {4}
    assert D.ngram_jaccard_pairs(docs, 0.0).count() == 0
    # and the full LSH path survives short docs
    assert D.minhash_lsh_pairs(docs, 0.4).count() == 0


def test_core_pipeline_scan_hygiene(spark):
    """The fused pipeline's scan must show the pushed url filter and
    never read the html column."""
    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.fused import fused_partials_multi

    cfg = load_config("/root/repo/configs/apache.toml")
    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.lit("en").alias("lang"),
        "text",
        F.lit(b"").alias("html"),
    )
    # write a real parquet so PushedFilters materializes in the scan
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pages.write.mode("overwrite").parquet(td)
        src = spark.read.parquet(td)
        plan = _physical(fused_partials_multi(src, [(cfg.log_groups[0], None)], observe=False))
        assert "html" not in plan.split("ReadSchema")[-1]
        if cfg.log_groups[0].url_match:
            assert "PushedFilters: [IsNotNull(url)" in plan or "url" in plan.split("PushedFilters")[-1].split("]")[0]


def test_phase_a_combiner_bounds_shuffle_volume(spark):
    """The 100-TB claim in numbers: phase-A partials (what actually
    crosses the shuffle) must be bounded by keys x windows x
    (ticks-per-window + histogram cap) per PARTITION — independent of
    the raw datapoint count."""
    import numpy as np

    from logmetrics_spark.config import load_config
    from logmetrics_spark.operators.fused import fused_datapoints, fused_partials_multi
    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf

    import dataclasses

    cfg = load_config("/root/repo/configs/rest_api.toml")
    # throughput profile (the bench shape): 5-min windows — with 15s
    # windows over a 10-min span every (key, w, t) holds ~1 datapoint
    # and there is nothing TO combine; reduction is a property of
    # pages >> keys x windows, which is what a real corpus has
    lg = dataclasses.replace(cfg.log_groups[0], interval=300, ewma_interval=60)
    spec = SynthSpec(n_rows=4000, time_span_seconds=600)
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(4000), spec)).repartition(4)

    from pyspark.sql import functions as F2

    dp = fused_datapoints(pages, [(lg, None)]).persist()
    n_dp = dp.count()
    assert n_dp > 10_000  # the fan-out actually fanned out
    partials = fused_partials_multi(pages, [(lg, None)], observe=False).persist()

    is_hist = F2.col("metric_type") == "histogram"
    n_sum_dp = dp.filter(~is_hist).count()
    n_sum_partials = partials.filter(~is_hist).count()
    n_hist_partials = partials.filter(is_hist).count()

    distinct_kwt = (
        dp.filter(~is_hist)
        .select(
            "key_id",
            F2.floor(F2.col("ts_sec") / lg.interval).alias("w"),
            F2.when(
                F2.col("metric_type") == "meter",
                F2.floor(F2.col("ts_sec") / lg.ewma_interval),
            ).otherwise(F2.lit(0)).alias("t"),
        )
        .distinct()
        .count()
    )
    distinct_hist_kw = (
        dp.filter(is_hist)
        .select("key_id", F2.floor(F2.col("ts_sec") / lg.interval).alias("w"))
        .distinct()
        .count()
    )
    # exact bounds: sums <= partitions x distinct (key,w,t);
    # reservoir candidates <= partitions x cap x distinct (key,w)
    assert n_sum_partials <= 4 * distinct_kwt
    assert n_hist_partials <= 4 * lg.histogram_size * distinct_hist_kw
    # and the sums actually COMBINE (pages >> keys x windows here)
    assert n_sum_partials < n_sum_dp / 2, (
        f"combiner ineffective: {n_sum_partials} vs {n_sum_dp}"
    )
    dp.unpersist()
    partials.unpersist()


def _planted_dup_docs(spark, n_base=150, mutate_every=12):
    """Deterministic corpus with planted near-duplicates: doc i+1000
    is doc i with every ``mutate_every``-th token replaced — shingle
    Jaccard ~0.75-0.9, the regime the 4x4 banding targets."""
    from pyspark.sql import functions as F

    base = spark.range(n_base).select(F.col("id").alias("doc_id"))
    toks = [
        F.concat(
            F.lit("w"),
            (D.md5_52(F.concat_ws(":", F.col("doc_id"), F.lit(str(j)))) % 4000).cast("string"),
        )
        for j in range(50)
    ]
    originals = base.select("doc_id", F.concat_ws(" ", *toks).alias("text"))
    mut = [
        F.lit(f"m{j}") if j % mutate_every == 0 else toks[j] for j in range(50)
    ]
    clones = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.concat_ws(" ", *mut).alias("text")
    )
    return originals.unionByName(clones)


def test_minhash_lsh_planted_recall(spark):
    """Estimator-quality pin for the shared-base-hash affine MinHash
    family (ADVICE r02): on planted near-duplicates the LSH path must
    recover >= 80% of the true >=0.6-Jaccard pairs found by the exact
    all-pairs oracle. Guards against a silently-degenerate hash family
    (correlated estimators pushing recall far below the 1-(1-j^r)^b
    theory curve)."""
    docs = _planted_dup_docs(spark)
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard6"]
        for r in D.ngram_jaccard_pairs(docs, 0.6, max_rows=None).collect()
    }
    # the mutation scheme guarantees a large planted set
    assert len(truth) >= 100
    lsh = {
        (r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, 0.6).collect()
    }
    assert lsh <= set(truth)  # precision 1.0 (exact verify)
    recall = len(lsh & set(truth)) / len(truth)
    # expected recall for an IDEAL universal family:
    # mean over true pairs of P(candidate) = 1-(1-j^rows)^bands.
    # The shared-base-hash affine family is correlated, so we only
    # require it lands within a fixed slack of the ideal curve — a
    # degenerate family (recall collapsing toward 0) fails loudly.
    ideal = sum(
        1 - (1 - j ** D.LSH_ROWS) ** D.LSH_BANDS for j in truth.values()
    ) / len(truth)
    assert recall >= ideal - 0.15, (
        f"planted-dup recall {recall:.2f} vs ideal-family expectation {ideal:.2f}"
    )


def test_minhash_bucket_cap_chain_degradation(spark):
    """Oversized buckets degrade to chain+skip pairs under bucket_cap:
    a viral family of m identical docs yields each member linked to
    its next two neighbors (~2m pairs) instead of m(m-1)/2, keeping
    the family one connected component — robust to an isolated
    hash-collision outlier in the bucket (a min-member star through an
    outlier loses the whole family; the probe corpus hit exactly
    that)."""
    m = 20
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(m), "text": ["alpha beta gamma delta epsilon zeta"] * m})
    )
    exact = D.minhash_lsh_pairs(docs, 0.9).collect()
    assert len(exact) == m * (m - 1) // 2
    capped = D.minhash_lsh_pairs(docs, 0.9, bucket_cap=5).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    chain = {(i, i + 1) for i in range(m - 1)} | {(i, i + 2) for i in range(m - 2)}
    assert got == chain
    # one connected component over the chain
    comp = list(range(m))
    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]; x = comp[x]
        return x
    for a, b in got:
        comp[find(a)] = find(b)
    assert len({find(i) for i in range(m)}) == 1


def test_band_bucket_stats_telemetry(spark, docs):
    """Occupancy telemetry: per-band bucket stats are consistent with
    the candidate volume the pair generator actually produces."""
    shh = D.shingle_hashes(docs)
    sig = D.minhash_signatures_from_hashes(shh)
    entries = D._minhash_band_entries(sig)
    stats = {r["band"]: r for r in D.band_bucket_stats(entries).collect()}
    assert set(stats) == set(range(D.LSH_BANDS))
    n_pairs = D.band_bucket_pairs(entries, ["id"]).count()
    assert n_pairs == sum(r["candidate_pairs"] for r in stats.values())


def test_dups_stale_crunch_is_lazy(spark):
    """Building the dups/stale pipeline must run ZERO Spark jobs: the
    per-group last-window bound is a broadcast join, not a driver
    collect (the r02 shape blocked plan construction on a max(w)
    action and forced a two-job run)."""
    from logmetrics_spark.config import load_config
    from logmetrics_spark.plans.pipeline import run_pipeline_multi
    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf
    import numpy as np

    cfg = load_config("configs/apache.toml")
    lg = cfg.log_groups[0]
    assert lg.send_duplicates or lg.stale_removal
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(50), SynthSpec(n_rows=50)))
    sc = spark.sparkContext
    sc.setJobGroup("lazy-crunch-probe", "plan construction must be lazy")
    try:
        res = run_pipeline_multi(spark, [cfg], pages)
    finally:
        sc.setJobGroup(None, None)
    ids = sc.statusTracker().getJobIdsForGroup("lazy-crunch-probe")
    assert len(ids) == 0, f"plan construction ran {len(ids)} jobs"
    # and the plan still executes correctly (golden equality is pinned
    # by test_golden_e2e; here just a sanity action)
    assert res.routed.count() > 0
    res.partials.unpersist()


def test_emb_lsh_plan_knob():
    """Band-width autoscaling: expected bucket occupancy (n / 2^width)
    stays near the target across corpus sizes — r04: per-band int64
    signature columns, so NO 15-bit clamp (the r03 width ceiling)."""
    for n in (1_000, 100_000, 1_000_000, 10_000_000, 10**9, 10**11):
        planes, bands = D.emb_lsh_plan(n)
        width = planes // bands
        assert planes == width * bands
        assert width <= 60
        # occupancy target met at EVERY tested scale (the r03 clamp
        # broke this at 10^7+)
        assert n / (1 << width) <= 16.0
    assert D.emb_lsh_plan(1_000) == (32, 4)        # floor: 8-bit bands
    assert D.emb_lsh_plan(10**9) == (26 * 4, 4)    # formerly clamped to 15
    import pytest as _pytest

    # warn-on-clamp (never silent under-bucketing): only reachable at
    # an absurd corpus (> 2^60 * target vectors)
    with _pytest.warns(UserWarning, match="clamping"):
        planes, bands = D.emb_lsh_plan(2**70, target_bucket=16)
    assert planes == 60 * 4


def test_simhash_wide_matches_packed_layout(spark, docs):
    """simhash_pairs_wide at the historic (15-bit, 4-band) layout
    returns EXACTLY simhash_pairs' result — per-band columns are a
    representation change, not a semantic one."""
    d = docs.limit(120)
    packed = {(r["id_a"], r["id_b"], r["hamming"]) for r in D.simhash_pairs(d, 3).collect()}
    wide = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs_wide(d, 3, bits_per_band=15, n_bands=4).collect()
    }
    assert wide == packed


def test_simhash_wide_banding_exact_96bit(spark):
    """96-bit (24x4) wide simhash: pigeonhole banding is exact vs the
    brute-force Hamming filter over the per-band signature columns —
    the width regime the packed int64 could not represent."""
    pdf = pd.DataFrame(
        {
            "doc_id": range(12),
            "text": [
                "alpha beta gamma delta", "alpha beta gamma delta",
                "alpha beta gamma epsilon", "one two three four",
                "one two three four five", "totally different words here",
                "alpha beta gamma delta zeta", "x y z w", "x y z w",
                "lorem ipsum dolor sit", "lorem ipsum dolor sat",
                "unrelated standalone doc",
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    rows = D.simhash_bands(docs, bits_per_band=24, n_bands=4).collect()
    sig = {r["id"]: [r[f"sig_{b}"] for b in range(4)] for r in rows}
    expect = set()
    for i in sorted(sig):
        for j in sorted(sig):
            if i < j:
                ham = sum(bin(a ^ b).count("1") for a, b in zip(sig[i], sig[j]))
                if ham <= 3:
                    expect.add((i, j, ham))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs_wide(docs, 3, bits_per_band=24, n_bands=4).collect()
    }
    assert got == expect


def test_connected_components_max_iter_raises(spark):
    """Fixpoint exhaustion raises instead of returning partial labels
    (ADVICE r03: silent under-dedup downstream)."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        pd.DataFrame({"id_a": range(0, 40), "id_b": range(1, 41)})
    )
    with _pytest.raises(RuntimeError, match="max_iter"):
        D.connected_components(chain, max_iter=1)
    stats: dict = {}
    lab = D.connected_components(chain, stats=stats)
    assert stats["converged"] and stats["rounds"] <= 8  # pointer jumping: O(log n)
    assert {r["comp"] for r in lab.collect()} == {0}


def test_emb_lsh_wide_plan_still_exact_on_clones(spark, emb):
    """embedding_neardup_lsh under a wider autoscaled plan keeps
    precision 1.0 (subset of exact with identical cos6)."""
    planes, bands = D.emb_lsh_plan(5_000)
    exact = {(r["id_a"], r["id_b"]): r["cos6"]
             for r in D.embedding_neardup_pairs(emb, 0.3).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos6"]
           for r in D.embedding_neardup_lsh(emb, 0.3, n_planes=planes, n_bands=bands).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]


def test_range_join_no_nested_loop(spark):
    """range_join must plan as a hash equi-join + filter, and its
    result must equal the naive inequality join."""
    import numpy as np

    from logmetrics_spark.operators.asof import range_join

    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(
        pd.DataFrame({"k": rng.integers(0, 4, 300), "ts": rng.integers(0, 5000, 300),
                      "pid": np.arange(300)})
    )
    starts = rng.integers(0, 5000, 60)
    iv = spark.createDataFrame(
        pd.DataFrame({"k": rng.integers(0, 4, 60), "start": starts,
                      "end": starts + rng.integers(0, 900, 60), "iid": np.arange(60)})
    )
    out = range_join(pts, iv, on="ts", by="k", bucket=600)
    plan = _physical(out)
    for node in FORBIDDEN:
        assert node not in plan, f"{node} in range_join plan"
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    naive = pts.join(iv, "k").filter(F.col("ts").between(F.col("start"), F.col("end")))
    expect = {(r["pid"], r["iid"]) for r in naive.collect()}
    assert got == expect


def test_fused_stage_is_one_arrow_mapper(spark, pages, rest_cfg, apache_cfg):
    """run_pipeline_multi's fused stage, below the crunch's exchange, is
    ONE Python map, the fused kernel's MapInArrow (pages in, partials
    out), and no pandas map runs anywhere in the plan. Throughput
    profile: no persisted partials hide the stage behind a cache scan."""
    import dataclasses

    from logmetrics_spark.plans.pipeline import run_pipeline_multi
    from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf

    cfgs = [
        dataclasses.replace(c, log_groups=tuple(
            dataclasses.replace(lg, send_duplicates=False, stale_removal=False, interval=300)
            for lg in c.log_groups))
        for c in (rest_cfg, apache_cfg)
    ]
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    plan = _physical(run_pipeline_multi(spark, cfgs, pages, lookups=lk).routed)
    lines = plan.splitlines()
    crunch_exchange = next(i for i, ln in enumerate(lines) if "REPARTITION_BY_NUM" in ln)
    below = "\n".join(lines[crunch_exchange:])
    assert below.count("MapInArrow ") == 1, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
