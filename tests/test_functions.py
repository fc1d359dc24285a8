"""Tests for training-data ops: text analysis, dedup, similarity,
multimodal plumbing (graft extras)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logmetrics_spark.functions import dedup as D
from logmetrics_spark.functions import multimodal as M
from logmetrics_spark.functions import similarity as S
from logmetrics_spark.functions import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["a b  c", "", "   ", "one"]})
    )
    got = [r[0] for r in df.select(T.token_count(F.col("text"))).collect()]
    assert got == [3, 0, 0, 1]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "this is the thing and the other of it",
                    "le chat est sur la table et le chien",
                    "der hund und die katze ist da",
                    "no markers whatsoever xyz",
                ]
            }
        )
    )
    got = [r["lang_pred"] for r in T.with_lang_id(df).collect()]
    assert got == ["en", "fr", "de", "und"]


def test_exact_dedup_finds_known_dup(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["Same  Doc", "same doc", "different"]}
        )
    )
    out = {r["keeper_id"]: r["n_docs"] for r in D.exact_dedup(df).collect()}
    # whitespace-normalized + lowercased => 1 and 2 collapse
    assert out[1] == 2 and out[3] == 1


def test_jaccard_pair_value(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["a b c d e", "a b c d x"],
            }
        )
    )
    rows = D.ngram_jaccard_pairs(df, 0.1).collect()
    assert len(rows) == 1
    # shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter 2, union 4 -> 0.5
    assert rows[0]["jaccard6"] == 0.5


def test_minhash_lsh_recall_vs_exact(spark, docs):
    exact = {
        (r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, 0.5).collect()}
    assert lsh <= exact  # verification guarantees precision 1.0
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_incremental_equals_cross_slice_of_full_lsh(spark, docs):
    """Incremental (batch-vs-corpus) pairs == the full-corpus LSH pair
    set restricted to cross-split pairs: MinHash signatures depend
    only on the doc itself, so splitting cannot change any bucket."""
    full = {
        frozenset((r["id_a"], r["id_b"]))
        for r in D.minhash_lsh_pairs(docs, 0.4).collect()
    }
    is_batch = lambda i: i % 5 == 0  # noqa: E731
    cross = {p for p in full if len({is_batch(i) for i in p}) == 2}
    idx = D.minhash_index(docs.filter(F.col("doc_id") % 5 != 0))
    inc = D.minhash_lsh_incremental_pairs(
        docs.filter(F.col("doc_id") % 5 == 0), idx, 0.4
    )
    got = {frozenset((r["id_new"], r["id_corpus"])) for r in inc.collect()}
    assert got == cross


def test_incremental_keep_drops_clone_keeps_fresh(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the orbital telescope before dawn and the "
        "harbor lighthouse rotates its beam across the frozen bay"
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    base,
                    "completely unrelated corpus content about spark physical plans",
                ],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11],
                "text": [
                    # near-clone of corpus doc 1 (one token appended)
                    base + " tonight",
                    "a genuinely fresh document with brand new tokens entirely",
                ],
            }
        )
    )
    idx = D.minhash_index(corpus)
    pairs = D.minhash_lsh_incremental_pairs(batch, idx, 0.3).collect()
    assert {(r["id_new"], r["id_corpus"]) for r in pairs} == {(10, 1)}
    kept = [r["doc_id"] for r in D.dedup_incremental_keep(batch, idx, 0.3).collect()]
    assert kept == [11]


def test_incremental_bucket_cap_bounds_per_doc_candidates(spark):
    """A viral corpus family (40 identical docs) with bucket_cap=4:
    the new doc still matches (any capped member suffices for the
    drop decision) and its pair listing is bounded by the cap."""
    fam = "viral duplicate family text repeated across the whole corpus"
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(100, 140)), "text": [fam] * 40})
    )
    batch = spark.createDataFrame(pd.DataFrame({"doc_id": [7], "text": [fam]}))
    idx = D.minhash_index(corpus)
    capped = D.minhash_lsh_incremental_pairs(batch, idx, 0.5, bucket_cap=4).collect()
    assert 1 <= len(capped) <= 4  # min-id members 100..103 only
    assert all(r["id_corpus"] in range(100, 104) for r in capped)
    kept = D.dedup_incremental_keep(batch, idx, 0.5, bucket_cap=4).collect()
    assert kept == []
    uncapped = D.minhash_lsh_incremental_pairs(batch, idx, 0.5).collect()
    assert len(uncapped) == 40


def test_embed_incremental_equals_cross_slice_of_full_lsh(spark, emb):
    """Embedding incremental (batch-vs-corpus) pairs == the full-corpus
    hyperplane-LSH pair set restricted to cross-split pairs: signatures
    depend only on the vector itself, so splitting cannot change any
    bucket (same argument as the minhash twin)."""
    full = {
        frozenset((r["id_a"], r["id_b"]))
        for r in D.embedding_neardup_lsh(emb, 0.3, dim=64).collect()
    }
    is_batch = lambda i: i % 5 == 0  # noqa: E731
    cross = {p for p in full if len({is_batch(i) for i in p}) == 2}
    idx = D.embedding_index(emb.filter(F.col("vec_id") % 5 != 0), dim=64)
    inc = D.embedding_incremental_pairs(
        emb.filter(F.col("vec_id") % 5 == 0), idx, 0.3, dim=64
    )
    got = {frozenset((r["id_new"], r["id_corpus"])) for r in inc.collect()}
    assert got == cross
    assert cross, "fixture produced no cross-split pairs — test is vacuous"


def test_embed_incremental_bucket_cap_bounds_candidates(spark):
    """A viral corpus family (40 identical vectors) with bucket_cap=4:
    the new vector still matches (any capped member suffices for drop
    decisions) and its pair listing is bounded by cap x bands."""
    v = [1.0, 0.5, -0.25, 0.75] * 2
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(100, 140)), "embedding": [v] * 40})
    )
    batch = spark.createDataFrame(pd.DataFrame({"vec_id": [7], "embedding": [v]}))
    idx = D.embedding_index(corpus, dim=8)
    capped = D.embedding_incremental_pairs(
        batch, idx, 0.5, dim=8, bucket_cap=4
    ).collect()
    assert 1 <= len(capped) <= 4  # min-id members 100..103 only
    assert all(r["id_corpus"] in range(100, 104) for r in capped)
    assert all(r["cos6"] == 1.0 for r in capped)
    uncapped = D.embedding_incremental_pairs(batch, idx, 0.5, dim=8).collect()
    assert len(uncapped) == 40


def test_embed_incremental_margin_kernel_edges(spark):
    """The r06 margin-prefilter kernel in embedding_incremental_pairs:
    zero-norm vectors must be dropped in the kernel exactly as the JVM
    nullif path dropped them (no DIVIDE_BY_ZERO, no phantom pair), and
    a pair sitting exactly AT the threshold must survive the 2e-6
    margin and be emitted by the exact JVM rescore."""
    import pandas as pd

    v = [1.0, 0.5, -0.25, 0.75] * 2
    # w is at exactly cos 0.5 to v: built by Gram-Schmidt mix of v and
    # an orthogonal direction — cos(v, w) = 0.5 by construction
    import math

    u = [0.5, -1.0, 0.75, 0.25] * 2
    dv = sum(a * a for a in v) ** 0.5
    proj = sum(a * b for a, b in zip(u, v)) / (dv * dv)
    perp = [b - proj * a for a, b in zip(v, u)]
    dp = sum(a * a for a in perp) ** 0.5
    w = [0.5 * a / dv + math.sin(math.pi / 3) * b / dp for a, b in zip(v, perp)]
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                # 3 = zero vector in the corpus: must never pair
                "embedding": [v, w, [0.0] * 8],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": [10, 11], "embedding": [v, [0.0] * 8]})
    )
    idx = D.embedding_index(corpus, dim=8)
    got = {
        (r["id_new"], r["id_corpus"]): r["cos6"]
        for r in D.embedding_incremental_pairs(batch, idx, 0.5, dim=8).collect()
    }
    assert got.get((10, 1)) == 1.0
    # the exact-threshold pair survives iff its band buckets collide;
    # if present its cos6 must be exactly the 6dp threshold value
    if (10, 2) in got:
        assert got[(10, 2)] == 0.5
    # zero vectors (batch 11, corpus 3) must not appear in any pair
    assert all(k[0] != 11 and k[1] != 3 for k in got)


def _double_sigtab_index(spark, rows):
    """An (entries, sigtab) index whose sigtab carries array<double>
    vectors, as a sigtab read back from parquet can: entries come from
    the float corpus vector e0 = [1, 0, ..., 0] for every id (so each
    id is a candidate of the batch vector e0), vectors and norms from
    ``rows`` = [(vec_id, vector or None), ...]."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    e0 = [1.0] + [0.0] * 7
    ids = [i for i, _ in rows]
    corpus = spark.createDataFrame(pd.DataFrame({"vec_id": ids, "embedding": [e0] * len(ids)}))
    entries, _ = D.embedding_index(corpus.repartition(1), dim=8)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("nrm", DoubleType()),
    ])
    sigtab = spark.createDataFrame(
        [(i, v, 1.0 if v is None else sum(x * x for x in v) ** 0.5) for i, v in rows],
        schema,
    )
    batch = spark.createDataFrame(pd.DataFrame({"vec_id": [10], "embedding": [e0]}))
    return batch, (entries, sigtab)


def test_embed_incremental_keeps_double_vectors(spark):
    """The margin kernel passes array<double> corpus vectors through
    untouched: cos(e0, b) = 0.500000503 rounds HALF_UP to 0.500001 in
    float64, but to 0.5 if b is truncated to float32 (0.500000477)."""
    import math

    v = 0.500000503
    batch, idx = _double_sigtab_index(spark, [(1, [v, math.sqrt(1 - v * v)] + [0.0] * 6)])
    got = D.embedding_incremental_pairs(batch, idx, 0.5, dim=8).collect()
    assert [(r["id_new"], r["id_corpus"], r["cos6"]) for r in got] == [(10, 1, 0.500001)]


@pytest.mark.parametrize(
    "rows",
    [
        # a null vector beside a 2*dim one: flatten() skips the null, so
        # in one kernel batch reshape(n, -1) realigned both rows
        # without a shape error
        [(1, None), (2, [0.5] * 16)],
        # ragged lengths summing to n * dim
        [(1, [0.5] * 4), (2, [0.5] * 12)],
    ],
)
def test_embed_incremental_rejects_malformed_vectors(spark, rows):
    """Null or wrong-length corpus vectors raise a named error in the
    margin kernel, however the candidates fall into Arrow batches,
    instead of being reshaped into the wrong rows."""
    batch, idx = _double_sigtab_index(spark, rows)
    with pytest.raises(
        Exception, match=r"embedding_incremental_pairs: (\d+ null _eb|_eb vector length)"
    ):
        D.embedding_incremental_pairs(batch, idx, 0.5, dim=8).collect()


def test_embedding_incremental_keep_drops_corpus_matches(spark):
    """embedding_incremental_keep: batch vectors with a verified corpus
    near-dup are dropped, fresh ones survive — the embedding twin of
    dedup_incremental_keep."""
    v = [1.0, 0.5, -0.25, 0.75] * 2
    fresh = [-1.0, 0.9, 0.3, -0.6, 0.1, -0.8, 0.45, 0.2]
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [v, [x * 0.5 for x in fresh]]})
    )
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": [10, 11], "embedding": [v, [-x for x in fresh]]})
    )
    idx = D.embedding_index(corpus, dim=8)
    kept = [
        r["vec_id"]
        for r in D.embedding_incremental_keep(batch, idx, 0.5, dim=8).collect()
    ]
    assert kept == [11]  # 10 matches corpus 1 (cos=1); 11 is anti-parallel to 2


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta gamma", "alpha beta gamma"]})
    )
    rows = D.simhash_pairs(df, 0).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_simhash_within_kernel_chunk_boundaries(spark):
    """The vectorized within-family combination kernel chunks its
    output at ~4M pairs: two identical-text families big enough that
    they cannot share a chunk must still emit exactly C(m,2) ordered
    pairs each, no duplicates, no id_a >= id_b."""
    m = 2200  # C(2200,2) = 2,419,900 per family -> 2 chunks total
    df = spark.range(2 * m).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("alpha beta gamma"))
        .otherwise(F.lit("delta epsilon zeta"))
        .alias("text"),
    )
    pairs = D.simhash_pairs(df, 0)
    n_expected = 2 * (m * (m - 1) // 2)
    agg = pairs.agg(
        F.count("*").alias("n"),
        F.countDistinct("id_a", "id_b").alias("nd"),
        F.sum((F.col("id_a") >= F.col("id_b")).cast("int")).alias("bad_order"),
        F.max("hamming").alias("max_ham"),
    ).collect()[0]
    assert agg["n"] == n_expected, agg
    assert agg["nd"] == n_expected  # no duplicate pairs across chunks
    assert agg["bad_order"] == 0
    assert agg["max_ham"] == 0


def test_embed_lsh_bucket_spans_arrow_batches(spark):
    """The partition-wise bucket scorer must reassemble a (band,
    bucket) run that spans multiple arrow batches: force 64-row
    batches under a 300-member bucket and check the exact pair set
    against C(300,2) per family."""
    m, k = 300, 5
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(m + k)),
                "embedding": [[1.0] * 64] * m + [[1.0, -1.0] * 32] * k,
            }
        )
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = {
            (r["id_a"], r["id_b"], r["cos6"])
            for r in D.embedding_neardup_lsh(emb, 0.3, dim=64).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {(a, b, 1.0) for a in range(m) for b in range(a + 1, m)} | {
        (a, b, 1.0) for a in range(m, m + k) for b in range(a + 1, m + k)
    }
    assert got == want


def test_ann_ivf_recall(spark, emb):
    queries = S.make_queries(emb, 50)
    exact = S.cosine_topk(emb, queries, 5).collect()
    approx = S.ivf_topk(emb, queries, S.make_centroids(emb, 25), 5, 3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["vec_id"] in exact_sets.get(r["q_id"], set()):
            hit += 1
    assert total > 0
    assert hit / total >= 0.4, f"IVF recall@5 too low: {hit}/{total}"


def test_multimodal_decode_roundtrip(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "payload": [M.fake_payload(1, 8, 6, 3), M.fake_payload(2, 4, 4, 1)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = {r["media_id"]: r for r in M.decode_stage(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (8, 6, 3)
    assert (out[2]["width"], out[2]["height"], out[2]["channels"]) == (4, 4, 1)
    assert 0.0 <= out[1]["mean_pixel"] <= 255.0
    thumbs = {r["media_id"]: r for r in M.resize_stage(df, 4, 3).collect()}
    assert len(bytes(thumbs[1]["thumb"])) == 4 * 3 * 3
    frames = {r["media_id"]: r for r in M.frame_sample_stage(df, 2).collect()}
    assert frames[2]["n_frames"] == 2  # 4 rows -> every 2nd


def test_multimodal_real_codec_is_stubbed(spark):
    df = spark.createDataFrame(pd.DataFrame({"media_id": [1], "payload": [b"\x89PNG..."]}))
    # raised inside the task -> surfaces as a PythonException wrapper
    with pytest.raises(Exception, match="only the LMIMG fake-payload format"):
        M.decode_stage(df).collect()
    with pytest.raises(NotImplementedError):
        M.real_decode_stage(df)


def test_bpe_token_count_pieces(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["it's 42 tokens!", "", "hello", "a b"]})
    )
    got = [r[0] for r in df.select(T.bpe_token_count(F.col("text"))).collect()]
    # "it" + "'s" + " 42" + " tokens" + "!" = 5 pieces
    assert got == [5, 0, 1, 2]


def test_rolling_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["abc", "ABC  ", "", "abd"]})
    )
    got = [r[0] for r in df.select(T.rolling_fingerprint(F.col("text"))).collect()]
    h = 0
    for ch in "abc":
        h = (h * T.ROLL_B + ord(ch)) % T.ROLL_M
    assert got[0] == h
    assert got[1] == h  # normalization: lower + trim
    assert got[2] == 0
    assert got[3] != h


def test_zero_vector_embeddings_do_not_crash(spark):
    """ANSI mode (Spark 4 default) turns x/0 into a job-killing
    DIVIDE_BY_ZERO; a zero/padding embedding must yield NULL cosine
    (dropped by threshold filters), not abort the corpus job."""
    import pandas as pd

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [[0.0] * 8, [1.0] * 8, [1.0] * 8],
                "label": [0, 0, 0],
            }
        )
    )
    pairs = D.embedding_neardup_pairs(emb, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    lsh = D.embedding_neardup_lsh(emb, 0.5, dim=8).collect()
    assert all((r["id_a"], r["id_b"]) == (1, 2) for r in lsh)


def test_token_count_whitespace_edges(spark):
    """trim strips only 0x20 in both engines: tab/newline edges must
    not produce phantom empty tokens."""
    import pandas as pd

    from logmetrics_spark.functions.text import token_count, tokens

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["\t\n", "\thello", "a\tb", "  x  ", ""]})
    )
    got = [r[0] for r in df.select(token_count(F.col("text"))).collect()]
    assert got == [0, 1, 2, 1, 0], got
    toks = df.select(tokens(F.col("text")).alias("t")).collect()
    assert toks[1]["t"] == ["hello"]
    assert toks[2]["t"] == ["a", "b"]


def test_quadratic_oracle_guards(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": [f"doc {i} text" for i in range(20)]})
    )
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        D.ngram_jaccard_pairs(docs, 0.4, max_rows=10)
    # under the guard: builds fine
    D.ngram_jaccard_pairs(docs, 0.4, max_rows=100)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(20), "embedding": [[1.0, 0.0]] * 20})
    )
    with pytest.raises(ValueError, match="embedding_neardup_lsh"):
        D.embedding_neardup_pairs(emb, 0.95, max_rows=10)
    q = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding"))
    with pytest.raises(ValueError, match="ivf_topk"):
        S.cosine_topk(emb, q, 5, max_rows=10)
    # override works
    D.embedding_neardup_pairs(emb, 0.95, max_rows=None)


def test_connected_components_vs_union_find(spark):
    """Pointer-jumping min-label propagation equals a sequential
    union-find on a messy random graph (multi components, cycles)."""
    import random

    rng = random.Random(11)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expect = {}
    roots = {}
    for i in sorted(range(n)):
        r = find(i)
        roots.setdefault(r, i)  # min id per root
        expect[i] = roots[r]

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [a for a, _ in edges], "id_b": [b for _, b in edges]})
    )
    got = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    touched = {x for e in edges for x in e}
    assert got == {i: expect[i] for i in touched}


def test_connected_components_long_chain_converges(spark):
    """A 2000-node chain (the exact shape bucket_cap's chain
    degradation emits for a viral family) must converge within the
    pointer-jumping round budget — O(log n), not O(n)."""
    n = 2000
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
    )
    comp = D.connected_components(pairs, max_iter=25)
    rows = comp.collect()
    assert len(rows) == n
    assert all(r["comp"] == 0 for r in rows)


def test_dedup_near_keep(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6), "text": [f"d{i}" for i in range(6)]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 3], "id_b": [1, 2, 4]})
    )
    kept = sorted(r["doc_id"] for r in D.dedup_near_keep(docs, pairs).collect())
    # components {0,1,2} -> keep 0; {3,4} -> keep 3; singleton 5 kept
    assert kept == [0, 3, 5]


def test_with_split_properties(spark, docs):
    from logmetrics_spark.functions import sampling as SP

    out = SP.with_split(docs).select("doc_id", "split").collect()
    by = {}
    for r in out:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by) <= {"train", "val", "test"}
    assert sum(len(v) for v in by.values()) == len(out)  # partition, no overlap
    assert len(by["train"]) > 0.8 * len(out)
    # stability under corpus growth: the same doc keeps its split when
    # only half the corpus is present
    half = SP.with_split(docs.filter(F.col("doc_id") % 2 == 0)).collect()
    full = {r["doc_id"]: r["split"] for r in out}
    for r in half:
        assert full[r["doc_id"]] == r["split"]


def test_stratified_sample_proportions(spark, docs):
    from logmetrics_spark.functions import sampling as SP

    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    samp = SP.stratified_sample(docs, 0.3, "lang")
    s_by_lang = {r["lang"]: r["n"] for r in samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in n_by_lang.items():
        if n >= 50:
            frac = s_by_lang.get(lang, 0) / n
            assert 0.15 < frac < 0.45, f"{lang}: {frac}"
    # deterministic: same output twice
    a = {r["doc_id"] for r in samp.collect()}
    b = {r["doc_id"] for r in SP.stratified_sample(docs, 0.3, "lang").collect()}
    assert a == b


def test_corpus_clean_composition(spark, docs):
    out = T.corpus_clean(docs).collect()
    assert 0 < len(out) < docs.count()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))
    assert all(r["n_tokens"] >= 5 for r in out)


def test_pii_mask_semantics(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "mail bob.smith+x@sub.example.org now",
                    "call 555-123-4567 or 555.987.6543 today",
                    "host 192.168.1.254 and 10.0.0.1 up",
                    "",
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in T.with_pii_masked(df).collect()}
    assert rows[0]["masked_text"] == "mail <EMAIL> now"
    assert (rows[0]["n_emails"], rows[0]["n_phones"], rows[0]["n_ips"]) == (1, 0, 0)
    assert rows[1]["masked_text"] == "call <PHONE> or <PHONE> today"
    assert rows[1]["n_phones"] == 2
    assert rows[2]["masked_text"] == "host <IP> and <IP> up"
    assert rows[2]["n_ips"] == 2
    assert rows[3]["masked_text"] == ""
    assert rows[3]["n_emails"] == rows[3]["n_phones"] == rows[3]["n_ips"] == 0


def test_pii_mask_numeric_host_is_ip_not_email(spark):
    # the email pattern requires an alphabetic TLD, so a numeric-host
    # address is NOT an email — the IP pass masks the host part. Also
    # pins the alpha-TLD case: the email pass consumes the whole
    # address, leaving nothing IP-shaped behind.
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["x root@10.0.0.1 y", "x bob@mail.example.com y"]}
        )
    )
    rows = {r["doc_id"]: r for r in T.with_pii_masked(df).collect()}
    assert rows[0]["masked_text"] == "x root@<IP> y"
    assert rows[0]["n_emails"] == 0 and rows[0]["n_ips"] == 1
    assert rows[1]["masked_text"] == "x <EMAIL> y"
    assert rows[1]["n_emails"] == 1 and rows[1]["n_ips"] == 0


def test_repetition_features_known_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "a b a b a b",  # 6 toks, 2 distinct; top bigram 'a b' 3/5
                    "one two three four",  # all distinct, each bigram once
                    "solo",  # single token: no bigrams
                    "",  # empty: all zeros
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in T.with_repetition_features(df).collect()}
    assert rows[0]["n_tokens"] == 6
    assert rows[0]["dup_word_frac"] == round(1 - 2 / 6, 6)
    assert rows[0]["top_bigram_frac"] == round(3 / 5, 6)
    assert rows[1]["dup_word_frac"] == 0.0
    assert rows[1]["top_bigram_frac"] == round(1 / 3, 6)
    assert rows[2]["n_tokens"] == 1 and rows[2]["top_bigram_frac"] == 0.0
    assert rows[3]["n_tokens"] == 0
    assert rows[3]["dup_word_frac"] == 0.0 and rows[3]["top_bigram_frac"] == 0.0
    # dup-word-only mode: identical dup_word_frac values, NO bigram
    # column, and no join/aggregate in the plan (pure projection)
    slim = T.with_repetition_features(df, include_bigrams=False)
    assert "top_bigram_frac" not in slim.columns
    srows = {r["doc_id"]: r for r in slim.collect()}
    for i in range(4):
        assert srows[i]["dup_word_frac"] == rows[i]["dup_word_frac"]
    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan[:1500]


def test_decapture_group_semantics():
    """_decapture must neutralize plain and named groups, keep
    group-dependent constructs (backrefs, conditionals) unchanged, and
    respect literal ']' as a first class member — every output must
    compile and match identically to the input pattern."""
    import re as _re

    from logmetrics_spark.operators.fused import _decapture

    cases = {
        "(foo)bar": "(?:foo)bar",
        "(foo)?(?(1)bar|qux)": "(foo)?(?(1)bar|qux)",
        r"(a)\1": r"(a)\1",
        "(?P<lvl>ERROR|WARN)": "(?:ERROR|WARN)",
        "(?P<a>x)(?P=a)": "(?P<a>x)(?P=a)",
        "[](]": "[](]",
        "[^](]": "[^](]",
        "[(]x(y)": "[(]x(?:y)",
        r"[\d](a)": r"[\d](?:a)",
        r"[\]](a)": r"[\]](?:a)",
        "[^^](a)": "[^^](?:a)",
        r"\(x\)(y)": r"\(x\)(?:y)",
        "(?:already)(z)": "(?:already)(?:z)",
    }
    probes = ["foobar", "barqux", "aa", "ERROR", "xx", "](", "?", ":", "(xy", "(x)y", "alreadyz", "1a", "]a", "^a", "ba"]
    for pat, want in cases.items():
        got = _decapture(pat)
        assert got == want, (pat, got, want)
        for s in probes:
            assert bool(_re.search(got, s)) == bool(_re.search(pat, s)), (pat, s)


def test_asof_join_matches_pandas_merge_asof(spark):
    """union+window as-of join == pandas merge_asof (direction
    'backward', allow_exact_matches=True) on a messy random series."""
    import numpy as np

    from logmetrics_spark.operators.asof import asof_join

    rng = np.random.default_rng(3)
    left = pd.DataFrame({
        "k": rng.integers(0, 5, 200),
        "ts": rng.integers(0, 1000, 200),
        "lid": np.arange(200),
    })
    right = pd.DataFrame({
        "k": rng.integers(0, 5, 80),
        "ts": rng.integers(0, 1000, 80),
        "v": rng.integers(0, 10**6, 80),
    })
    # unique right (k, ts): the as-of pick must be unambiguous
    right = right.groupby(["k", "ts"], as_index=False)["v"].max()

    got = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        by="k", on="ts", value_cols=["v"],
    ).toPandas().sort_values("lid").reset_index(drop=True)

    expect = pd.merge_asof(
        left.sort_values("ts", kind="stable"), right.sort_values("ts", kind="stable"),
        on="ts", by="k", direction="backward", allow_exact_matches=True,
    ).sort_values("lid").reset_index(drop=True)
    assert len(got) == len(left)
    ge = got.set_index("lid")["v"].to_dict()
    ee = expect.set_index("lid")["v"].to_dict()
    for lid in ee:
        g, e = ge[lid], ee[lid]
        assert (pd.isna(g) and pd.isna(e)) or g == e, f"lid={lid}: {g} vs {e}"


def test_asof_join_exact_ts_visible_and_null_before_first(spark):
    from logmetrics_spark.operators.asof import asof_join

    left = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 1], "ts": [5, 10, 20]}))
    right = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "ts": [10, 15], "v": [7, 9]}))
    rows = {r["ts"]: r["v"] for r in asof_join(left, right, by="k", on="ts").collect()}
    assert rows[5] is None      # before first observation
    assert rows[10] == 7        # same-instant observation IS visible
    assert rows[20] == 9


def test_asof_join_nullable_right_columns_stay_atomic(spark):
    """A NULL field in the latest right row must NOT be back-filled
    from an older right row — the whole latest row wins atomically
    (merge_asof / SQL ASOF semantics)."""
    from logmetrics_spark.operators.asof import asof_join

    left = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [10]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [1, 2], "a": [5.0, None], "b": [None, 7.0]})
    )
    row = asof_join(left, right, by="k", on="ts").collect()[0]
    assert row["b"] == 7.0
    assert row["a"] is None, "field back-filled from an older right row"


def test_cap_probed_index_buckets_filter_then_cap_is_exact(spark):
    """The cap window runs AFTER runtime-filtering the index to the
    probed (band, bucket) set — O(probed buckets), never an O(corpus)
    index shuffle. Filtering first must not change the selection: a
    bucket's min-id cap members don't depend on which buckets are
    probed, and unprobed buckets contribute nothing downstream."""
    entries = spark.createDataFrame(
        pd.DataFrame(
            {
                "band": [0] * 5 + [1] * 3,
                "bucket": ["x"] * 5 + ["y"] * 3,
                "id": [50, 10, 30, 20, 40, 7, 9, 8],
            }
        )
    )
    probe = spark.createDataFrame(pd.DataFrame({"band": [0], "bucket": ["x"]}))
    out = D._cap_probed_index_buckets(entries, probe, cap=2, id_col="id").collect()
    # probed bucket (0, x): its 2 min ids, same as a global cap would
    # pick; unprobed bucket (1, y) absent entirely
    assert sorted((r["band"], r["bucket"], r["id"]) for r in out) == [
        (0, "x", 10),
        (0, "x", 20),
    ]


def test_decontaminate_drops_benchmark_overlap(spark):
    """A training doc containing a benchmark span verbatim is flagged
    with its distinct shared-n-gram count and dropped by
    decontaminate; disjoint docs survive."""
    bench = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1000], "text": ["what is the capital of france paris"]}
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    # contains the benchmark 5-gram span verbatim
                    "trivia night recap what is the capital of france "
                    "paris said the host",
                    "completely unrelated text about spark physical plans",
                ],
            }
        )
    )
    rep = D.contamination_report(docs, bench, n=5).collect()
    assert [r["doc_id"] for r in rep] == [1]
    # shared distinct 5-grams of doc 1 with the benchmark span:
    # the 7-token span contains 3 distinct 5-grams
    assert rep[0]["bench_ngram_hits"] == 3
    kept = sorted(
        r["doc_id"] for r in D.decontaminate(docs, bench, n=5).collect()
    )
    assert kept == [2]


def test_pack_sequences_greedy_and_overflow(spark):
    """Greedy fill within the group in id order: bin changes exactly
    when the running fill would exceed the budget, and an over-budget
    doc gets a bin of its own (no silent drop)."""
    from logmetrics_spark.functions.sampling import pack_sequences

    texts = {
        0: "a b c",            # 3 tokens -> bin 0 (fill 3)
        8: "d e f g",          # 4 tokens -> bin 0 (fill 7)
        16: "h i j",           # 3 tokens -> would be 10 > 8: bin 1
        24: " ".join("x" * 1 for _ in range(12)),  # 12 > budget: own bin 2
        32: "k l",             # 2 tokens -> bin 3 (overflow doc closed 2)
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(texts), "text": [texts[k] for k in texts]}
        )
    )
    out = {
        r["doc_id"]: (r["grp"], r["bin_id"], r["n_tokens"])
        for r in pack_sequences(docs, budget=8, n_groups=8).collect()
    }
    assert out == {
        0: (0, 0, 3),
        8: (0, 0, 4),
        16: (0, 1, 3),
        24: (0, 2, 12),
        32: (0, 3, 2),
    }
    # bit-stable under repartitioning (shard + in-group sort, not
    # partition order)
    out2 = {
        r["doc_id"]: (r["grp"], r["bin_id"], r["n_tokens"])
        for r in pack_sequences(
            docs.repartition(7), budget=8, n_groups=8
        ).collect()
    }
    assert out2 == out


def test_pack_sequences_negative_ids_pmod(spark):
    """Negative ids shard via pmod into [0, n_groups) — Spark's
    sign-preserving % would put them in a negative group, outside the
    documented shard domain."""
    from logmetrics_spark.functions.sampling import pack_sequences

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [-9, -1, 0, 7], "text": ["a b"] * 4})
    )
    out = {
        r["doc_id"]: r["grp"]
        for r in pack_sequences(docs, budget=8, n_groups=8).collect()
    }
    assert out == {-9: 7, -1: 7, 0: 0, 7: 7}
    assert all(0 <= g < 8 for g in out.values())


def test_prepare_corpus_end_to_end(spark):
    """The composed corpus-prep plan: quality gate drops junk, exact +
    near-dup dedup keep min-id survivors, decontamination drops the
    benchmark-overlap doc, splits partition the survivors, and packing
    covers every surviving doc without bins straddling splits."""
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the orbital telescope before dawn"
    )
    bench_span = "what is the capital of france paris is the answer here"
    rows = [
        (1, base),                        # kept
        (2, base),                        # exact dup of 1 -> dropped
        (3, base + " tonight"),           # near-dup of 1 -> dropped
        (4, "short"),                     # < min_tokens -> dropped
        (5, "el que los es " * 4),        # not en -> dropped
        (6, "trivia recap " + bench_span + " said the host with delight"),
        (7, "completely unrelated text about spark physical plans and joins"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    bench = spark.createDataFrame(
        pd.DataFrame([(900, bench_span)], columns=["doc_id", "text"])
    )
    out = prepare_corpus(
        docs,
        bench,
        CorpusPrepConfig(
            neardup_threshold=0.3, decontam_ngram=5, pack_budget=16,
            pack_groups=4,
        ),
    )
    corpus = out["corpus"].collect()
    kept = sorted(r["doc_id"] for r in corpus)
    assert kept == [1, 7], kept
    # split column present and valid; PII count telemetry rode
    # through, and text IS the masked form (no raw sibling column)
    assert {r["split"] for r in corpus} <= {"train", "val", "test"}
    assert all("n_emails" in r.asDict() for r in corpus)
    assert all("masked_text" not in r.asDict() for r in corpus)
    packs = out["packs"].collect()
    # every surviving doc packed exactly once, in its own split's bins
    assert sorted(r["doc_id"] for r in packs) == kept
    by_id = {r["doc_id"]: r for r in packs}
    splits = {r["doc_id"]: r["split"] for r in corpus}
    for did, r in by_id.items():
        assert r["split"] == splits[did]
        assert r["n_tokens"] > 0


def test_prepare_corpus_repetition_and_lm_gates(spark):
    """Optional quality axes: the Gopher repetition gate drops the
    repeated-phrase doc, the unigram-LM gate drops the rare-garble doc
    (its mean token log-prob under the post-gate corpus distribution
    is far below the shared-vocabulary docs'), and both feature
    columns ride into the corpus table."""
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, shared + " tonight"),
        (2, shared + " tomorrow"),
        # repetition spam: dup_word_frac ~0.89, still English-marked
        (3, ("the spam " * 9).strip()),
        # rare garble: an English marker keeps lang_pred=en, but every
        # content token is corpus-unique -> mean logprob ~-3.43 vs
        # ~-2.68 for docs 1-2
        (4, "the zxqv jkwp qqrz vvbn mmtr ppls wwgh ttyu oorv nnds"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = prepare_corpus(
        docs,
        None,
        CorpusPrepConfig(
            neardup_threshold=0.9,
            max_dup_word_frac=0.5,
            min_lm_logprob=-3.0,
            pack_budget=64,
            pack_groups=4,
        ),
    )
    corpus = {r["doc_id"]: r for r in out["corpus"].collect()}
    assert sorted(corpus) == [1, 2], sorted(corpus)
    assert all("dup_word_frac" in r.asDict() for r in corpus.values())
    assert all("lm_logprob6" in r.asDict() for r in corpus.values())
    # packs cover exactly the survivors
    assert sorted(r["doc_id"] for r in out["packs"].collect()) == [1, 2]


def test_prepare_corpus_cache_registry_pins_stage_boundaries(spark):
    """The composed plan localCheckpoints every stage boundary that
    feeds both sides of a self-join (gate score joins, LSH probe,
    cap/decontam joins, the corpus->packs fan-out); without the pins
    each optional gate MULTIPLIES both upstream re-execution and the
    LOGICAL plan Catalyst must transform (the r05 probe measured >10
    min of driver-side planning at 100k docs, executors idle).
    Contract: pins land in cache_registry, values are identical to an
    unregistered run, the executed plan reads the checkpointed leaves,
    and the caller's unpersist loop is safe across the mixed
    checkpoint/persist registry."""
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    rows = [
        (i, f"the quick brown fox number w{i % 7} jumps over the lazy dog")
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    bench = spark.createDataFrame(
        pd.DataFrame([(900, "the quick brown fox number")], columns=["doc_id", "text"])
    )
    cfg = CorpusPrepConfig(
        neardup_threshold=0.95,
        max_dup_word_frac=0.9,
        min_lm_logprob=-50.0,
        cap_per_source=1000,
        source_col="doc_id",  # every doc its own "domain" (no source col here)
        decontam_ngram=5,
        decontam_min_hits=10_000,  # report-only threshold: nothing dropped
        pack_budget=64,
        pack_groups=4,
    )
    registry: list = []
    out = prepare_corpus(docs, bench, cfg, cache_registry=registry)
    got = sorted(r["doc_id"] for r in out["packs"].collect())
    # every self-join boundary pinned: repetition gate, LM gate, exact
    # dedup, near-dup keep, cap, decontaminate, corpus fan-out, plus
    # the LSH builder's persisted shingle+signature pair
    assert len(registry) >= 7, len(registry)
    # the checkpointed boundaries are plan LEAVES: the packs plan scans
    # the materialized RDD instead of re-deriving (and re-planning) the
    # upstream stages
    plan_str = out["packs"]._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan_str, plan_str[:2000]
    # and the logical tree Catalyst must transform stays BOUNDED
    # (pre-pin, every optional gate multiplied the tree and the gated
    # composition took >10 min of driver CPU to plan at 100k docs);
    # the fully-pinned packs plan is ~4 lines — 30 leaves generous
    # headroom for future stages while catching any re-blowup
    analyzed = out["packs"]._jdf.queryExecution().analyzed().toString()
    assert len(analyzed.splitlines()) < 30, analyzed[:2000]
    # values match an unregistered (but still pinned) run
    out2 = prepare_corpus(docs, bench, cfg)
    assert got == sorted(r["doc_id"] for r in out2["packs"].collect())
    # the documented cleanup loop must be safe on the mixed registry
    # (no-op on checkpointed frames, real unpersist on the LSH caches)
    for df in registry:
        df.unpersist()


def test_prepare_corpus_output_text_is_masked(spark):
    """The prepared corpus's text column must be the PII-MASKED form:
    no email/phone/IP literal survives into the output table or the
    packing token counts (the r04 advice finding — a masked_text
    sibling next to raw text is not scrubbing)."""
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    rows = [
        (
            1,
            "please contact alice@example.com about the seventeen "
            "orbital telescope findings before dawn tomorrow",
        ),
        (
            2,
            "the backup host sits at 10.1.2.3 and answers every "
            "telescope calibration request within seconds",
        ),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = prepare_corpus(docs, None, CorpusPrepConfig(pack_budget=32, pack_groups=2))
    corpus = {r["doc_id"]: r for r in out["corpus"].collect()}
    assert set(corpus) == {1, 2}
    assert "alice@example.com" not in corpus[1]["text"]
    assert "<EMAIL>" in corpus[1]["text"]
    assert corpus[1]["n_emails"] == 1
    assert "10.1.2.3" not in corpus[2]["text"]
    assert "<IP>" in corpus[2]["text"]
    assert "masked_text" not in corpus[1].asDict()


def test_line_dedup_newline_mode(spark):
    """Duplicate lines are kept only at their first (id, pos)
    occurrence; doc order is preserved; fully-duplicated docs drop."""
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha content\n{boiler}\nmore alpha"),
        (2, f"{boiler}\nbeta content"),      # boiler drops, beta stays
        (3, boiler),                          # nothing left -> doc gone
        (4, f"gamma one\ngamma one\ngamma two"),  # within-doc dup drops
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_orig"])
        for r in D.line_dedup(docs).collect()
    }
    assert out == {
        1: (f"alpha content\n{boiler}\nmore alpha", 3, 3),
        2: ("beta content", 1, 2),
        4: ("gamma one\ngamma two", 2, 3),
    }


def test_line_dedup_segments_matches_naive(spark):
    """k-word segmentation mode vs a sequential pure-Python replay."""
    import hashlib

    vocab = ["ab", "cd", "ef", "gh"]
    rows = []
    for i in range(40):
        h = hashlib.md5(f"ld{i}".encode()).hexdigest()
        words = [vocab[int(c, 16) % len(vocab)] for c in h[:11]]
        rows.append((i, " ".join(words)))
    k = 2
    seen, expect = set(), {}
    for i, text in rows:  # rows are id-ordered: greedy first-occurrence
        toks = text.split()
        segs = [" ".join(toks[j : j + k]) for j in range(0, len(toks), k)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        if kept:
            expect[i] = (" ".join(kept), len(kept), len(segs))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_orig"])
        for r in D.line_dedup(docs, words_per_segment=k).collect()
    }
    assert out == expect


def test_cap_per_group_exact_and_small_groups(spark):
    from logmetrics_spark.functions.sampling import cap_per_group

    rows = [(i, f"g{i % 3}") for i in range(50)] + [(100, "tiny")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "grp"]))
    # coarse grids force the threshold path to keep a residual much
    # larger than cap; the result must stay EXACT regardless
    for grid in (2, 16, 1024):
        out = sorted(
            (r["grp"], r["doc_id"])
            for r in cap_per_group(docs, "grp", 5, quantile_grid=grid).collect()
        )
        expect = sorted(
            (g, i)
            for g in ["g0", "g1", "g2", "tiny"]
            for i in sorted(i2 for i2, g2 in rows if g2 == g)[:5]
        )
        assert out == expect, grid
    # web-scale cap over tiny groups: cap/N*grid far exceeds int32 —
    # the long-typed grid index must take the keep-everything branch
    # instead of wrapping into a garbage sketch index
    out = sorted(
        (r["grp"], r["doc_id"])
        for r in cap_per_group(docs, "grp", 3_000_000).collect()
    )
    assert out == sorted((g, i) for i, g in rows)
    # string ids: the quantile sketch orders numbers — fail loudly
    import pytest as _pytest

    sdocs = spark.createDataFrame(
        pd.DataFrame([("a", "g")], columns=["doc_id", "grp"])
    )
    with _pytest.raises(TypeError, match="numeric"):
        cap_per_group(sdocs, "grp", 5)


def test_prepare_corpus_optional_stages(spark):
    """line_dedup stage rewrites text before features (the shared
    boilerplate span survives only in the first doc); cap_per_source
    keeps the N smallest ids per source after dedup."""
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    boiler = "this boilerplate navigation banner repeats on every page"
    uniq = {
        1: "alpha analysis of spark shuffle behavior under skewed keys",
        2: "beta notes about broadcast joins and partition pruning",
        3: "gamma summary of adaptive query execution frameworks",
        4: "delta review of columnar storage and predicate pushdown",
    }
    rows = [
        (i, f"{boiler} {uniq[i]}", "srcA" if i < 3 else "srcB")
        for i in sorted(uniq)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    cfg = CorpusPrepConfig(
        # the banner is exactly 8 words, so at k=8 it is segment 0 of
        # every doc (k-word spans only dedup when frames align — the
        # delimiter mode is the alignment-free path for real corpora)
        min_tokens=3, neardup_threshold=0.9, line_dedup_words=8,
        cap_per_source=1, pack_budget=64, pack_groups=2,
    )
    out = prepare_corpus(docs, None, cfg)
    corpus = {r["doc_id"]: r for r in out["corpus"].collect()}
    # cap=1 per source keeps min-id survivors 1 (srcA) and 3 (srcB)
    assert sorted(corpus) == [1, 3]
    # doc 1 keeps the boilerplate (first occurrence); doc 3 lost it
    assert corpus[1]["text"] == f"{boiler} {uniq[1]}"
    assert corpus[3]["text"] == uniq[3]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        prepare_corpus(
            docs, None,
            CorpusPrepConfig(line_dedup_delim="\n", line_dedup_words=3),
        )


def test_unigram_lm_scores_known_values(spark):
    """Hand-computed corpus: 'a' appears 4x, 'b' 2x, 'c' 1x, 'd' 1x
    (total 8). Scores replay the exact mean-log-p formula; the
    boilerplate-heavy doc scores highest."""
    import math

    rows = [(1, "a a b"), (2, "a b c"), (3, "a d")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: (r["n_tokens"], r["lm_logprob6"])
        for r in T.unigram_lm_scores(docs).collect()
    }
    p = {"a": 4 / 8, "b": 2 / 8, "c": 1 / 8, "d": 1 / 8}
    exp = {
        1: (3, round((2 * math.log(p["a"]) + math.log(p["b"])) / 3, 6)),
        2: (3, round((math.log(p["a"]) + math.log(p["b"]) + math.log(p["c"])) / 3, 6)),
        3: (2, round((math.log(p["a"]) + math.log(p["d"])) / 2, 6)),
    }
    assert out == exp
    # the common-token doc outranks the rare-token docs
    assert out[1][1] > out[2][1] and out[1][1] > out[3][1]


def test_unigram_lm_plan_preaggregates_before_token_join(spark):
    """Skew pin (VERDICT r04 §1, r06 kernel form): nothing may join on
    the Zipf-skewed token key at occurrence granularity. r06 moved the
    per-doc (id, tok, c_doc) pre-reduce into a mapInArrow kernel, so
    the executed plan must show (a) the MapInArrow kernel (the only
    token producer — no Generate/explode of the occurrence stream
    exists anywhere), (b) the token join consuming the CACHED kernel
    output on both branches (InMemoryTableScan x2 — the ReusedExchange
    equivalent for a kernel source)."""
    rows = [(i, "the quick brown fox and the lazy dog") for i in range(64)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    df = T.unigram_lm_scores(docs)
    df.collect()  # executes THIS QueryExecution -> AQE final plan
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in s, s
    assert "Generate" not in s, s  # no occurrence-granularity explode
    join_at = s.find("Join [tok") if "Join [tok" in s else s.find("Join")
    assert join_at >= 0, s
    # both the vocabulary branch and the join-back branch read the
    # cached pre-reduced table (never re-tokenize, never explode)
    assert s.count("InMemoryTableScan") >= 2, s


def test_line_dedup_blank_lines_are_structure(spark):
    """Blank lines are never deduplicated away (every doc keeps its
    paragraph breaks) but cannot keep an otherwise-empty doc alive."""
    rows = [
        (1, "para one\n\npara two"),
        (2, "other one\n\nother two"),   # keeps ITS blank line
        (3, "para one\n\npara two"),      # full dup -> drops entirely
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_orig"])
        for r in D.line_dedup(docs).collect()
    }
    assert out == {
        1: ("para one\n\npara two", 2, 3),
        2: ("other one\n\nother two", 2, 3),
    }


def test_line_dedup_domain_guard_raises(spark):
    # r06: the guard fires inside the segmentation kernel (Python
    # worker), so it surfaces as PythonException; the message contract
    # ("packing domain") is unchanged
    from pyspark.errors.exceptions.captured import PythonException

    docs = spark.createDataFrame(
        pd.DataFrame([(-1, "some words here")], columns=["doc_id", "text"])
    )
    with pytest.raises(PythonException, match="packing domain"):
        D.line_dedup(docs, words_per_segment=3).collect()
    big = spark.createDataFrame(
        pd.DataFrame([(1 << 50, "some words here")], columns=["doc_id", "text"])
    )
    with pytest.raises(PythonException, match="packing domain"):
        D.line_dedup(big, words_per_segment=3).collect()


def test_cap_per_group_null_group_capped_not_dropped(spark):
    from logmetrics_spark.functions.sampling import cap_per_group

    rows = [(1, None), (2, None), (3, None), (4, "a")]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "grp"]).astype({"grp": "object"})
    )
    out = sorted(
        (r["grp"] or "", r["doc_id"])
        for r in cap_per_group(docs, "grp", 2).collect()
    )
    assert out == [("", 1), ("", 2), ("a", 4)]


def test_corpus_prep_empty_delim_raises(spark):
    from logmetrics_spark.plans.corpus_prep import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    docs = spark.createDataFrame(
        pd.DataFrame([(1, "x y z")], columns=["doc_id", "text"])
    )
    with pytest.raises(ValueError, match="non-empty"):
        prepare_corpus(docs, None, CorpusPrepConfig(line_dedup_delim=""))
