"""Differential test: LSH ANN vs brute-force cosine top-k (recall@5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from my_cudf_spark.operators import similarity as S
from my_cudf_spark.sources import load_table
from tests.conftest import SF_DIR


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def test_lsh_recall_vs_brute_force(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = S.lsh_topk(emb, queries, "vec_id", "embedding", k=5, dim=64, bits=4, tables=16).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"LSH recall@5 too low: {recall}"


def test_cosine_self_similarity(spark):
    emb = _emb(spark).limit(20)
    row = emb.select(S.cosine(F.col("embedding"), F.col("embedding")).alias("c")).collect()
    assert all(abs(r["c"] - 1.0) < 1e-12 for r in row)


def test_cosine_neardup_lsh_recall_on_planted_dups(spark):
    """LSH near-dup targets the high-cosine regime, so plant it: 40 base
    vectors + a small-noise copy of each (cos ≳ 0.98). The LSH path must
    recover ≥90% of the planted pairs and report only true ≥-threshold
    pairs (false positives are impossible by construction — candidates are
    exact-verified)."""
    import random

    from my_cudf_spark.operators.similarity import (
        cosine_neardup_lsh,
        cosine_pairs_exact,
    )

    rng = random.Random(7)
    dim, n = 16, 40
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x + rng.gauss(0, 0.03)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_exact(df, "vec_id", "embedding", 0.9).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_lsh(
            df, "vec_id", "embedding", 0.9, dim=dim, bits=10, tables=12
        ).collect()
    }
    assert approx <= exact  # exact verification: no false positives
    assert len(exact) >= n  # every planted pair qualifies
    assert len(approx) >= 0.9 * len(exact)


def test_ivf_recall_vs_brute_force(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = S.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5,
        n_centroids=8, n_probe=4, lloyd_iterations=0,
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"IVF recall@5 too low: {recall}"


def test_ivf_lloyd_refinement_runs_and_keeps_contract(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.ivf_topk(
        emb, queries, "vec_id", "embedding", k=4,
        n_centroids=6, n_probe=2, lloyd_iterations=2,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 - 1e-9 <= r["cos"] <= 1.0 + 1e-9
    for q, rows in by_q.items():
        assert len(rows) <= 4
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_filtered_topk_respects_metadata(spark):
    from pyspark.sql import functions as F

    from my_cudf_spark.operators.similarity import filtered_topk

    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [0.9, 0.1]),
        (2, "b", [1.0, 0.0]),  # perfect match but wrong label
        (3, "a", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, label string, embedding array<double>")
    out = filtered_topk(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=2, filter_cols=["label"]
    ).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(1, 1), (3, 2)]
    assert all(r["label"] == "a" for r in out)


def test_semantic_dedup_planted_dups(spark):
    """Planted near-identical vectors collapse to the min-id canonical;
    distinct vectors stay singleton keeps."""
    rows = [
        # ids 0,1 seed the two cells (min-id seeding); dups planted at
        # higher ids so they land in the seeds' cells
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),       # singleton: cos 0 to BOTH seeds
                                         # (tie → cell 0), below threshold
                                         # everywhere either way
        (10, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (11, [0.998, 0.02, 0.0, 0.0]),   # near-dup of 0 and 10
        (12, [0.0, 0.999, 0.02, 0.0]),   # near-dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in S.semantic_dedup(df, "vec_id", "embedding", threshold=0.95,
                                  n_centroids=2).collect()
    }
    assert out[0] == (0, True) and out[10] == (0, False) and out[11] == (0, False)
    assert out[1] == (1, True) and out[12] == (1, False)
    assert out[4] == (4, True)


def test_semantic_dedup_keep_partition_contract(spark):
    """Exactly one keep per cluster; every row labeled; clusters never
    straddle a cell (pairs are cell-blocked by construction)."""
    emb = _emb(spark)
    out = S.semantic_dedup(emb, "vec_id", "embedding", threshold=0.4).cache()
    n = out.count()
    assert n == emb.count()
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.countDistinct("cell").alias("n_cells"),
    )
    bad = per_cluster.filter((F.col("n_keep") != 1) | (F.col("n_cells") != 1)).count()
    assert bad == 0
    out.unpersist()


def test_lloyd_kmeans_basic_properties(spark):
    """Every row assigned exactly once; cluster ids in [0, k); iterating
    never increases the total within-cluster squared distance."""
    emb = _emb(spark)
    n = emb.count()
    costs = []
    for iters in (0, 1, 3):
        out = S.lloyd_kmeans(emb, "vec_id", "embedding", k=4, iterations=iters).cache()
        assert out.count() == n
        assert out.select("vec_id").distinct().count() == n
        cids = [r[0] for r in out.select("cluster_id").distinct().collect()]
        assert all(0 <= c < 4 for c in cids)
        costs.append(out.agg(F.sum("dist2")).collect()[0][0])
        out.unpersist()
    assert costs[1] <= costs[0] + 1e-9 and costs[2] <= costs[1] + 1e-9


def test_lloyd_kmeans_separated_clusters(spark):
    """Two well-separated blobs recover the planted partition."""
    rows = [(i, [10.0 + 0.01 * i, 10.0]) for i in range(5)] + [
        (i, [-10.0 - 0.01 * i, -10.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.lloyd_kmeans(df, "vec_id", "embedding", k=2, iterations=2).collect()
    lab = {r["vec_id"]: r["cluster_id"] for r in out}
    assert len({lab[i] for i in range(5)}) == 1
    assert len({lab[i] for i in range(5, 10)}) == 1
    assert lab[0] != lab[9]


def test_lloyd_kmeans_empty_cell_keeps_seed(spark):
    """k > distinct points: the starving cell keeps its seed centroid and
    simply attracts nothing — no NULL centroids, no crash."""
    rows = [(i, [0.0, 0.0]) for i in range(3)] + [(3, [5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.lloyd_kmeans(df, "vec_id", "embedding", k=3, iterations=2).collect()
    assert len(out) == 4
    assert all(r["dist2"] is not None for r in out)


def test_lloyd_kmeans_repartition_invariant(spark):
    """Assignments are a pure function of the data — identical under any
    input partitioning (the decimal-stable-mean contract)."""
    emb = _emb(spark)
    a = S.lloyd_kmeans(emb, "vec_id", "embedding", k=4, iterations=2)
    b = S.lloyd_kmeans(emb.repartition(13), "vec_id", "embedding", k=4, iterations=2)
    rows_a = sorted((r["vec_id"], r["cluster_id"]) for r in a.collect())
    rows_b = sorted((r["vec_id"], r["cluster_id"]) for r in b.collect())
    assert rows_a == rows_b


def test_binary_signature_known_bits(spark):
    """Hand-computed signature: MSB-first fold over each 32-dim word."""
    import pytest

    vec = [0.0] * 64
    vec[0] = 1.0   # word 0, MSB => 2^31
    vec[31] = 1.0  # word 0, LSB => 2^0
    vec[63] = -1.0  # negative: bit stays 0
    vec[62] = 0.5  # word 1, bit position 30 => 2^1
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
    row = df.select(*S.binary_signature(F.col("embedding"), 64)).collect()[0]
    assert row["sig0"] == (1 << 31) + 1
    assert row["sig1"] == 2
    with pytest.raises(ValueError, match="multiple of 32"):
        S.binary_signature(F.col("embedding"), 48)


def test_hamming_topk_finds_planted_neighbor(spark):
    """A sign-identical near-duplicate must surface at rank 1: its Hamming
    distance is 0, so stage 1 cannot miss it and the exact rerank puts it
    on top."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [(0, base), (1, [x * 1.01 for x in base])]  # same signs, cos ~ 1
    for i in range(2, 30):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.hamming_topk(
        df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        k=3, dim=64, candidates=5,
    ).collect()
    top = [r for r in out if r["rank"] == 1][0]
    assert top["neighbor_id"] == 1
    assert top["hamming"] == 0
    assert top["cos"] > 0.999


def test_hamming_recall_vs_brute_force(spark):
    """On the real fixture, binary-quantized top-5 (20 candidates) keeps
    useful recall of the exact cosine top-5 — the quantization-quality
    contract, asserted loosely (sign bits keep ~cos similarity order per
    Charikar's hyperplane bound)."""
    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, q, "vec_id", "embedding", k=5)
    approx = S.hamming_topk(emb, q, "vec_id", "embedding", k=5, dim=64, candidates=20)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.3


def test_int8_quantize_exact_values(spark):
    """floor(x*127/maxabs + 0.5): hand-checked levels incl. negatives."""
    df = spark.createDataFrame(
        [(1, [2.0, -2.0, 1.0, 0.0, -0.5])], "vec_id long, embedding array<double>"
    )
    row = df.select(S.int8_quantize(F.col("embedding")).alias("q")).collect()[0]
    # scale = 127/2 = 63.5: 2->127, -2->floor(-127+.5)=-127, 1->floor(64)=64,
    # 0->0, -0.5->floor(-31.75+.5)=floor(-31.25)=-32
    assert row["q"] == [127, -127, 64, 0, -32]


def test_int8_topk_agrees_with_brute_force(spark):
    """SQ8 ranking tracks exact cosine ranking closely on the fixture:
    top-5 sets overlap >= 60% averaged over the query set."""
    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, q, "vec_id", "embedding", k=5)
    approx = S.int8_topk(emb, q, "vec_id", "embedding", k=5)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.6


def test_hamming_topk_full_candidates_equals_brute_force(spark):
    """With candidates >= |corpus| stage 1 passes everything through, so
    the exact-cosine rerank must reproduce brute-force top-k EXACTLY
    (same neighbors, same ranks, same cosines) — the equivalence that
    pins the two-stage plumbing."""
    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 3)
    exact = S.brute_force_topk(emb, q, "vec_id", "embedding", k=4)
    full = S.hamming_topk(
        emb, q, "vec_id", "embedding", k=4, dim=64, candidates=10**9
    )
    ex = sorted((r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
                for r in exact.collect())
    fu = sorted((r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
                for r in full.collect())
    assert ex == fu


def test_power_iteration_pca_matches_numpy_direction(spark):
    """On planted anisotropic data the fixed-iteration PC1 projection must
    align with numpy's exact top eigenvector (|correlation| > 0.99 —
    power iteration after 6 steps on a dominant-gap spectrum)."""
    import numpy as np

    rng = np.random.RandomState(11)
    direction = rng.randn(64); direction /= np.linalg.norm(direction)
    X = (
        np.outer(rng.randn(200) * 5.0, direction)  # strong axis
        + rng.randn(200, 64) * 0.3                 # isotropic noise
    )
    rows = [(i, [float(x) for x in X[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, proj = S.power_iteration_pca(df, "vec_id", "embedding", dim=64, iterations=6)
    got = {r["vec_id"]: r["pc1"] for r in proj.collect()}
    spark_pc1 = np.array([got[i] for i in range(200)])

    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(X)
    vals, vecs = np.linalg.eigh(C)
    ref = Xc @ vecs[:, -1]
    corr = np.corrcoef(spark_pc1, ref)[0, 1]
    assert abs(corr) > 0.99, corr


def test_power_iteration_pca_repartition_invariant(spark):
    """PC1 projections are a pure function of the data — identical under
    any input partitioning (the DECIMAL-sum contract that makes the
    iterative pipeline SQL-oracle-able)."""
    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    _, p1 = S.power_iteration_pca(emb, "vec_id", "embedding", dim=64, iterations=3)
    _, p2 = S.power_iteration_pca(
        emb.repartition(13), "vec_id", "embedding", dim=64, iterations=3
    )
    a = sorted((r["vec_id"], round(r["pc1"], 9)) for r in p1.collect())
    b = sorted((r["vec_id"], round(r["pc1"], 9)) for r in p2.collect())
    assert a == b


def test_binary_signature_scale_invariant_and_single_word(spark):
    """Sign-bit signatures are invariant under positive scaling (only the
    sign matters — the Charikar property), and dim=32 packs into exactly
    one word."""
    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = [(1, base), (2, [x * 7.5 for x in base])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = df.select("vec_id", *S.binary_signature(F.col("embedding"), 64)).collect()
    sigs = {r["vec_id"]: (r["sig0"], r["sig1"]) for r in out}
    assert sigs[1] == sigs[2]

    df32 = spark.createDataFrame([(1, base[:32])], "vec_id long, embedding array<double>")
    cols = S.binary_signature(F.col("embedding"), 32)
    assert len(cols) == 1
    row = df32.select(*cols).collect()[0]
    assert 0 <= row["sig0"] < 2**32


def test_hamming_and_int8_topk_k_exceeds_corpus(spark):
    """k larger than the corpus returns every non-self neighbor exactly
    once — no padding, no duplicates."""
    rows = [(i, [float(i + d) for d in range(32)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    ham = S.hamming_topk(df, q, "vec_id", "embedding", k=50, dim=32, candidates=50)
    i8 = S.int8_topk(df, q, "vec_id", "embedding", k=50)
    for out in (ham, i8):
        got = [r["neighbor_id"] for r in out.collect()]
        assert sorted(got) == [1, 2, 3]


def test_int8_quantize_constant_vector(spark):
    """All-equal positive vector quantizes to all 127 (scale = 127/|x|)."""
    df = spark.createDataFrame([(1, [0.4, 0.4, 0.4])], "vec_id long, embedding array<double>")
    row = df.select(S.int8_quantize(F.col("embedding")).alias("q")).collect()[0]
    assert row["q"] == [127, 127, 127]


def test_int8_quantize_all_zero_vector(spark):
    """maxabs = 0 guard: an all-zero vector quantizes to all zeros — not
    NULLs via 127/0 = Inf, 0*Inf = NaN, floor(NaN) = NULL."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    row = df.select(S.int8_quantize(F.col("embedding")).alias("q")).collect()[0]
    assert row["q"] == [0, 0, 0]


def test_power_iteration_pca_topr_matches_numpy_eigenbasis(spark):
    """Two-component deflated PCA on planted two-axis data: each projection
    aligns with numpy's corresponding exact eigenvector (|corr| > 0.99),
    and the extracted directions are near-orthogonal (the Hotelling
    deflation property)."""
    import numpy as np

    rng = np.random.RandomState(23)
    d1 = rng.randn(64); d1 /= np.linalg.norm(d1)
    d2 = rng.randn(64); d2 -= (d2 @ d1) * d1; d2 /= np.linalg.norm(d2)
    X = (
        np.outer(rng.randn(200) * 6.0, d1)     # dominant axis
        + np.outer(rng.randn(200) * 3.0, d2)   # second axis
        + rng.randn(200, 64) * 0.2             # isotropic noise
    )
    rows = [(i, [float(x) for x in X[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comp, proj = S.power_iteration_pca(
        df, "vec_id", "embedding", dim=64, iterations=6, components=2
    )
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    spark_pc = np.array([got[i] for i in range(200)])

    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(X)
    vals, vecs = np.linalg.eigh(C)
    for k in range(2):
        ref = Xc @ vecs[:, -1 - k]
        corr = np.corrcoef(spark_pc[:, k], ref)[0, 1]
        assert abs(corr) > 0.99, (k, corr)

    cr = comp.collect()
    v1 = np.array([r["val"] for r in sorted(cr, key=lambda r: r["pos"])
                   if r["component"] == 0])
    v2 = np.array([r["val"] for r in sorted(cr, key=lambda r: r["pos"])
                   if r["component"] == 1])
    assert abs(float(v1 @ v2)) < 0.02, float(v1 @ v2)


def test_pq_topk_recall_vs_brute_force(spark):
    """PQ-ADC ranking recovers most exact top-5 neighbors on the fixture
    (8 subspaces x 16 codes on 64-dim — a coarse 32x-compression codebook,
    so the bar is recall, not equality)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = S.pq_topk(
        emb, queries, "vec_id", "embedding", k=5, dim=64, m=8, n_codes=16,
        candidates=100,
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"PQ recall@5 too low: {recall}"


def test_pq_topk_contract(spark):
    """Ranks contiguous from 1, no self-matches, scores in [-1, 1]+eps,
    and encode determinism: repartitioning the corpus does not move a
    single rounded score (the decimal-sum contract)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.pq_topk(emb, queries, "vec_id", "embedding", k=4, dim=64).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 - 1e-6 <= r["approx_cos"] <= 1.0 + 1e-6
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    out2 = S.pq_topk(
        emb.repartition(13), queries, "vec_id", "embedding", k=4, dim=64
    ).collect()
    a = sorted((r["query_id"], r["neighbor_id"], round(r["approx_cos"], 9)) for r in out)
    b = sorted((r["query_id"], r["neighbor_id"], round(r["approx_cos"], 9)) for r in out2)
    assert a == b


def test_ivfpq_topk_recall_vs_brute_force(spark):
    """IVF-PQ (4/16 probed cells + residual PQ) recovers most exact top-5
    neighbors.  Residual quantization should NOT lose recall vs plain PQ
    at the same codebook size — the cells absorb the coarse structure, so
    the bar matches test_pq_topk_recall_vs_brute_force despite searching
    only a quarter of the corpus."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    approx = S.ivfpq_topk(
        emb, queries, "vec_id", "embedding", k=5, dim=64, m=8, n_codes=16,
        n_centroids=16, n_probe=4, candidates=100,
    ).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact}
    found = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"IVF-PQ recall@5 too low: {recall}"


def test_ivfpq_topk_contract(spark):
    """Ranks contiguous from 1, no self-matches, neighbors confined to
    probed cells, and partitioning-independence of every rounded score."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.ivfpq_topk(emb, queries, "vec_id", "embedding", k=4, dim=64).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 - 1e-6 <= r["approx_cos"] <= 1.0 + 1e-6
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    out2 = S.ivfpq_topk(
        emb.repartition(13), queries, "vec_id", "embedding", k=4, dim=64
    ).collect()
    a = sorted((r["query_id"], r["neighbor_id"], round(r["approx_cos"], 9)) for r in out)
    b = sorted((r["query_id"], r["neighbor_id"], round(r["approx_cos"], 9)) for r in out2)
    assert a == b


def test_kcenter_coreset_invariants_and_planted_clusters(spark):
    """Gonzalez invariants: selection distances are non-increasing, no
    center repeats, and on three well-separated planted clusters the
    first three picks cover all three clusters."""
    import random

    from my_cudf_spark.operators.similarity import kcenter_coreset

    rng = random.Random(7)
    rows = []
    centers = [[0.0] * 8, [10.0] * 8, [-10.0] * 8]
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.1, 0.1) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_coreset(df, "vec_id", "embedding", k=6).orderBy("round").collect()
    assert [r["round"] for r in out] == list(range(6))
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 6
    assert out[0]["dist"] is None
    dists = [int(r["dist"]) for r in out[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    # first three picks land in three distinct planted clusters
    assert {i % 3 for i in ids[:3]} == {0, 1, 2}


def test_kcenter_coreset_degenerate_duplicates_no_repeat(spark):
    """Chosen centers leave the candidate pool: with only 2 distinct
    vectors duplicated across 6 rows and k=4, every remaining
    min-distance is 0 from round 2 on — the selection must still emit 4
    DISTINCT vec_ids (pre-fix it re-selected the lowest chosen id).
    With k beyond the row count the output just stops early."""
    from my_cudf_spark.operators.similarity import kcenter_coreset

    rows = [(i, [float(i % 2)] * 4) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_coreset(df, "vec_id", "embedding", k=4).orderBy("round").collect()
    ids = [r["vec_id"] for r in out]
    assert len(ids) == 4 and len(set(ids)) == 4
    # rounds 2+ pick zero-distance duplicates, lowest remaining id first
    assert [int(r["dist"]) for r in out[2:]] == [0, 0]
    over = kcenter_coreset(df, "vec_id", "embedding", k=9).collect()
    got = [r["vec_id"] for r in over]
    assert sorted(got) == list(range(6)) and len(set(got)) == 6


def test_power_pca_partition_invariance_bit_exact(spark):
    """r11 optimization guard: the covariance now folds per-task int64
    partial sums in an Arrow kernel — commutativity must make the whole
    projection bit-identical under ANY input partitioning (the same
    order-independence contract the old explode+self-join shape carried)."""
    emb = _emb(spark)
    outs = []
    for parts in (1, 7):
        _, proj = S.power_iteration_pca(
            emb.repartition(parts), "vec_id", "embedding", dim=64,
            iterations=3, components=2,
        )
        outs.append({r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()})
    assert outs[0] == outs[1]


def test_cov_partials_overflow_flush_exact():
    """r12 hardening (r11 verdict #3): the Arrow covariance kernel must
    flush its int64 accumulator before partial sums can wrap.  Adversarial
    shape: dim=2 vectors of magnitude ~5e4 make each nano-unit term
    ~2.5e18 (> 2^61), so the guard must flush ~every row; the summed
    partial emissions must equal an arbitrary-precision ground truth —
    pure Python ints, no int64 anywhere."""
    import math

    import numpy as np
    import pyarrow as pa

    dim = 2
    rows = [[5.0e4 + i, -4.9e4 + 2 * i] for i in range(9)]
    mu = [1.0, -2.0]  # arbitrary nonzero center
    fn = S._make_cov_partials(mu, dim)

    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows, type=pa.list_(pa.float64()))], names=["__v"]
    )
    out = list(fn(iter([batch])))
    assert len(out) > 1, "adversarial magnitudes must force at least one flush"

    totals = {}
    for rb in out:
        t = rb.to_pydict()
        for i, j, s in zip(t["i"], t["j"], t["s"]):
            totals[(i, j)] = totals.get((i, j), 0) + int(s)

    for i in range(dim):
        for j in range(dim):
            expect = 0
            for r in rows:
                xi = np.float64(r[i]) - np.float64(mu[i])
                xj = np.float64(r[j]) - np.float64(mu[j])
                expect += int(math.floor(float(xi * xj) * 1e9 + 0.5))
            assert totals[(i, j)] == expect, (i, j)


def test_cov_partials_rejects_term_overflowing_int64():
    """A centered magnitude of ~1e5 makes one nano-unit term ~1e19 >= 2^63:
    the kernel must raise before the int64 cast wraps it."""
    import pyarrow as pa
    import pytest

    dim = 2
    fn = S._make_cov_partials([0.0] * dim, dim)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([[1.0e5, 1.0], [2.0, 3.0]], type=pa.list_(pa.float64()))],
        names=["__v"],
    )
    with pytest.raises(ValueError, match="overflows int64"):
        list(fn(iter([batch])))


def test_cov_partials_rejects_null_and_ragged():
    """r11 ADVICE: the slow (non-contiguous) path must fail loudly on
    null/ragged vectors instead of crashing in np.asarray or silently
    diverging from the divisor."""
    import pyarrow as pa
    import pytest

    fn = S._make_cov_partials([0.0, 0.0], 2)
    bad = pa.RecordBatch.from_arrays(
        [pa.array([[1.0, 2.0], None], type=pa.list_(pa.float64()))],
        names=["__v"],
    )
    with pytest.raises(ValueError, match="null or ragged"):
        list(fn(iter([bad])))
    ragged = pa.RecordBatch.from_arrays(
        [pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float64()))],
        names=["__v"],
    )
    with pytest.raises(ValueError, match="null or ragged"):
        list(fn(iter([ragged])))