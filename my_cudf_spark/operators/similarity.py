"""Embedding similarity search (north star; no reference equivalent —
nvtext stops at token-level similarity).

- ``cosine``            : dot/norm via zip_with + aggregate (JVM, codegen).
- ``brute_force_topk``  : exact top-k neighbors for a (small, broadcast)
  query set against a large corpus: broadcast join + per-query window.
  Cost O(|corpus|·|queries|·dim) — the correctness baseline.
- ``lsh_topk``          : the scale path — random-hyperplane LSH buckets;
  only rows sharing a bucket are scored. Recall tunable via tables/bits.
- ``cosine_pairs_exact``/``cosine_neardup_lsh`` : embedding-cosine
  near-duplicate PAIRS (the dedup tier over embeddings): exact blocked
  baseline + LSH-bucketed scale path with exact-cosine verification.

Vectors are ``array<float>`` columns; norms are precomputed once per side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

__all__ = [
    "dot", "l2_norm", "cosine", "brute_force_topk", "lsh_topk",
    "ivf_topk", "lloyd_kmeans", "cosine_pairs_exact", "cosine_neardup_lsh",
    "kcenter_coreset",
    "md5_rademacher_planes", "binary_signature", "hamming_topk",
    "int8_quantize", "int8_topk", "power_iteration_pca", "pq_topk",
    "ivfpq_topk",
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set over the corpus.

    Returns (query_id, neighbor_id, cos) with rank ≤ k per query,
    excluding self-matches. Ties broken by neighbor id (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("cos", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "cos", "rank")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic gaussian hyperplanes (stdlib Mersenne — stable across
    platforms/runs, evaluated once on the driver and inlined as literals)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def md5_rademacher_planes(dim: int, bits: int, tables: int):
    """(tables*bits, dim) ±1 hyperplanes derived from md5 digests.

    Sign-random-projection LSH is valid for any symmetric sub-gaussian
    entry distribution; Rademacher (±1) entries drawn from md5 bits keep
    the same collision-probability guarantees as gaussians AND are
    re-computable in ANY engine with an md5 function — which is what lets
    the driver's DuckDB oracle regenerate the exact buckets
    (``substr(md5(t||'|'||b||'|'||d),1,1) >= '8'`` ⇒ +1).  Entry (t,b,d)
    uses the top bit of the first hex nibble of ``md5(f"{t}|{b}|{d}")``."""
    import hashlib

    import numpy as np

    out = np.empty((tables * bits, dim))
    for t in range(tables):
        for b in range(bits):
            for d in range(dim):
                h = hashlib.md5(f"{t}|{b}|{d}".encode()).hexdigest()
                out[t * bits + b, d] = 1.0 if int(h[0], 16) >= 8 else -1.0
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    bits: int = 8,
    tables: int = 16,
    query_id: str = "query_id",
    plane_source: str = "gauss",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures; rows meet only
    inside a (table, signature) bucket. Shuffle ∝ corpus×tables, scoring ∝
    bucket collisions — sublinear vs brute force at high selectivity.

    ``plane_source``: 'gauss' (default, seeded Mersenne gaussians) or
    'md5' (:func:`md5_rademacher_planes` — same guarantees, and the
    buckets become recomputable in SQL for the driver oracle)."""

    # Signature computation is a (rows × dim) @ (dim × tables·bits) matrix
    # multiply — a per-element Column expression evaluates interpreted at
    # ~ms/row, so this is the textbook Arrow-batched pandas_udf case: one
    # numpy matmul per batch, >100× the expression form (measured 10.4s →
    # <1s at 2000×64-dim, and the gap widens with dim).
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if plane_source == "md5":
        planes = md5_rademacher_planes(dim, bits, tables)  # (tables*bits, dim)
    else:
        planes = np.array(
            [p for t in range(tables) for p in _hyperplanes(dim, bits, seed=t + 1)]
        )  # (tables*bits, dim)
    powers = 1 << np.arange(bits)

    def _buckets(vecs):
        X = np.stack(vecs.to_numpy())  # (n, dim)
        B = (X @ planes.T) > 0  # (n, tables*bits)
        sigs = B.reshape(len(X), tables, bits) @ powers  # (n, tables)
        return pd.Series(
            [[f"{t}:{int(s)}" for t, s in enumerate(row)] for row in sigs]
        )

    # `from __future__ import annotations` stringifies hints, which the
    # pandas_udf type-hint inference can't resolve — set them as objects.
    _buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    bucket_udf = pandas_udf(_buckets, "array<string>")

    def with_buckets(df: DataFrame, ident: str) -> DataFrame:
        out = df.select(F.col(id_col).alias(ident), F.col(vec_col).alias(f"__v_{ident}"))
        return out.withColumn("bucket", F.explode(bucket_udf(F.col(f"__v_{ident}"))))

    c = with_buckets(corpus, "neighbor_id")
    q = with_buckets(queries, query_id)
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .dropDuplicates([query_id, "neighbor_id"])
        .withColumn("cos", cosine(F.col(f"__v_{query_id}"), F.col("__v_neighbor_id")))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "cos", "rank")
    )


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, exactly: all unordered (id_a, id_b)
    with cosine ≥ threshold.  O(n²/|blocks|) — the correctness baseline for
    :func:`cosine_neardup_lsh`, same role brute_force_topk plays for
    lsh_topk.  ``block_col`` is an equi-join blocking key (e.g. a class
    label or cluster id) that both bounds the quadratic and gives the join
    a hash-partitionable condition; without it the comparison is a
    broadcast nested-loop over ``id_a < id_b``.  ``norm_col`` names an
    already-computed L2 norm column (e.g. from a persisted assignment
    frame) so the per-row norm fold is not re-evaluated."""
    # Precompute the scalar norm ONCE PER ROW so each of the O(n²) pairs
    # costs a single array traversal (the dot) plus one multiply/divide —
    # and the expression tree dot/(norm_a·norm_b) stays bit-identical to
    # the differential oracle's (pre-normalizing the vectors instead would
    # reorder the float ops and drift in the last ulps).
    norm = F.col(norm_col) if norm_col is not None else l2_norm(F.col(vec_col))
    side = df.select(
        F.col(id_col).alias("__id"),
        *([F.col(block_col).alias("__blk")] if block_col is not None else []),
        F.col(vec_col).alias("__v"),
        norm.alias("__n"),
    )
    cond = F.col("id_a") < F.col("id_b")
    a = side.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        *([F.col("__blk").alias("__blk_a")] if block_col is not None else []),
    )
    b = side.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        *([F.col("__blk").alias("__blk_b")] if block_col is not None else []),
    )
    if block_col is not None:
        cond = (F.col("__blk_a") == F.col("__blk_b")) & cond
    pairs = a.join(b, cond)
    return (
        pairs.withColumn(
            "cos", dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    bits: int = 12,
    tables: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: random-hyperplane LSH —
    candidates are pairs sharing any (table, signature) bucket, verified
    with exact cosine ≥ threshold so false positives never escape.  The
    per-bit collision probability is 1 − θ/π, so this targets the true
    near-duplicate regime (cosine ≳ 0.8); at low thresholds the candidate
    set approaches all-pairs and :func:`cosine_pairs_exact` with a blocking
    key is the honest choice.  Shuffle ∝ rows×tables; the in-bucket pair
    expansion reuses the dedup groupBy+collect_list shape (no self-join)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from my_cudf_spark.operators.dedup import _pairs_in_buckets

    planes = np.array(
        [p for t in range(tables) for p in _hyperplanes(dim, bits, seed=101 + t)]
    )
    powers = 1 << np.arange(bits)

    def _buckets(vecs):
        X = np.stack(vecs.to_numpy())
        B = (X @ planes.T) > 0
        sigs = B.reshape(len(X), tables, bits) @ powers
        return pd.Series([[f"{t}:{int(s)}" for t, s in enumerate(row)] for row in sigs])

    _buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    bucket_udf = pandas_udf(_buckets, "array<string>")

    banded = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", F.explode(bucket_udf(F.col("v"))))
    cand = (
        _pairs_in_buckets(banded, ["bucket"], F.struct("id", "v"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("__va"),
            F.col("b.v").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _seed_centroids(c: DataFrame, ident: str, n_centroids: int) -> DataFrame:
    """Deterministic centroid seeding: the ``n_centroids`` rows of ``c``
    (columns ``ident``/__v/__n) with the smallest ids, as (cid, __cv, __cn).

    ``orderBy().limit()`` plans as TakeOrderedAndProject (per-partition
    k-row heaps, driver merges k rows), so the full corpus never funnels
    through one window task; the row_number window that assigns cid runs
    over the ≤ n_centroids-row result only."""
    seed = c.orderBy(ident).limit(n_centroids)
    w_seed = Window.orderBy(ident)
    return seed.withColumn("__rn", F.row_number().over(w_seed)).select(
        (F.col("__rn") - 1).alias("cid"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, find near-duplicate
    pairs ONLY within each cluster, group mutual near-dups into connected
    components, and keep one canonical representative (min id) per
    component.  The embedding-space analogue of the MinHash-LSH → verify →
    components pipeline the text side runs (operators/dedup.py +
    clustering.py).

    Returns one row per input id: ``(id_col, cell, cluster_id, keep)`` —
    ``cell`` the Voronoi cell, ``cluster_id`` the component canonical
    (= own id for singletons), ``keep`` whether a dedup pass retains the
    row.

    Determinism: centroids are seeded (:func:`_seed_centroids`, no Lloyd
    step) so a SQL oracle replays cell assignment exactly.

    Scale: assignment is a broadcast of ``n_centroids`` rows over one
    corpus scan; the quadratic is bounded per cell (cell size ≈
    corpus/n_centroids — size n_centroids with the corpus, as SemDeDup
    does with its 50k clusters over 5B embeddings); components run on the
    near-dup pair graph only (operators/clustering.py pointer jumping,
    O(log n) rounds).  Like all single-probe cluster methods, pairs
    straddling a cell boundary are missed — the documented recall
    tradeoff; raise n_probe-style coverage by lowering n_centroids or
    running :func:`cosine_neardup_lsh` instead when recall dominates."""
    from my_cudf_spark.operators.clustering import connected_components
    from my_cudf_spark.plans.pin import lru_persist

    c = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    cents = _seed_centroids(c, "__id", n_centroids)
    # One corpus scan: assignment feeds both the pair join (twice) and the
    # output labeling.
    assigned = lru_persist(
        _assign_nearest(c, cents, "__id", 1).select(
            F.col("__id").alias(id_col), F.col("cid").alias("cell"), "__v", "__n"
        )
    )
    pairs = cosine_pairs_exact(
        assigned.select(
            id_col, "cell", F.col("__v").alias("vec"), F.col("__n").alias("vn")
        ),
        id_col,
        "vec",
        threshold,
        block_col="cell",
        norm_col="vn",
    )
    comps = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias(id_col), "cluster_id"
    )
    return assigned.join(comps, id_col, "left").select(
        id_col,
        "cell",
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)).alias("keep"),
    )


def _assign_nearest(
    vecs: DataFrame, centroids: DataFrame, ident: str, n_probe: int
) -> DataFrame:
    """(ident, cid[, probe_rank]) — each vector's n_probe nearest centroids
    by cosine (ties → lower cid).  Centroids are a bounded set (≪ corpus),
    so the join is a broadcast; cost O(rows × centroids × dim)."""
    scored = vecs.crossJoin(broadcast(centroids)).withColumn(
        "__cos_c",
        dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn")),
    )
    w = Window.partitionBy(ident).orderBy(F.col("__cos_c").desc(), F.col("cid"))
    out = scored.withColumn("__pr", F.row_number().over(w)).filter(
        F.col("__pr") <= n_probe
    )
    return out.select(ident, "cid", "__v", "__n")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iterations: int = 0,
    query_id: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the classic ANN scale path
    next to :func:`lsh_topk`: partition the corpus into ``n_centroids``
    Voronoi cells, search only the ``n_probe`` cells nearest each query.

    Cost: assignment O(corpus × centroids), search O(corpus × n_probe /
    n_centroids × queries-per-probed-cell) — sublinear in the corpus per
    query once cells are selective, and every stage is an equi-join or
    broadcast (no all-pairs).

    Determinism (and the DuckDB oracle) comes from seeded centroids: the
    ``n_centroids`` corpus rows with the smallest ids.  ``lloyd_iterations``
    distributed k-means steps (posexplode → per-(cid, dim) mean → rebuild)
    refine them; each step is two shuffles, linear in corpus size.  Empty
    cells keep their previous centroid.
    """
    from my_cudf_spark.plans.pin import lru_persist

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    # cents feeds BOTH assignment passes (corpus buckets + query probes),
    # each behind its own broadcast exchange — pin the n_centroids-row
    # seed so its corpus-limit window runs once.
    cents = lru_persist(_seed_centroids(c, "neighbor_id", n_centroids))

    for _ in range(lloyd_iterations):
        assigned = _assign_nearest(c, cents, "neighbor_id", 1)
        means = (
            assigned.select("cid", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x.getField("m").cast("float"),
                ).alias("__cv")
            )
            .withColumn("__cn", l2_norm(F.col("__cv")))
        )
        # Empty cells vanish from `means`; keep their previous centroid.
        cents = (
            cents.select("cid", F.col("__cv").alias("__cv0"), F.col("__cn").alias("__cn0"))
            .join(means, "cid", "left")
            .select(
                "cid",
                F.coalesce("__cv", "__cv0").alias("__cv"),
                F.coalesce("__cn", "__cn0").alias("__cn"),
            )
        )

    buckets = _assign_nearest(c, cents, "neighbor_id", 1)
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    probes = _assign_nearest(q, cents, query_id, n_probe).select(
        query_id, "cid", F.col("__v").alias("__qv"), F.col("__n").alias("__qn")
    )
    scored = (
        buckets.join(probes, "cid")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn(
            "cos", dot(F.col("__qv"), F.col("__v")) / (F.col("__qn") * F.col("__n"))
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "cos", "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    filter_cols: Sequence[str],
    query_id: str = "query_id",
) -> DataFrame:
    """Metadata-filtered exact cosine top-k — the RAG retrieval shape
    (restrict candidates by metadata equality, then rank by similarity).

    The filter keys become the JOIN keys: instead of broadcast-cross-
    scoring the whole corpus and discarding mismatches, candidates arrive
    via a hash equi-join on ``filter_cols`` — at 100 TB the corpus
    shuffles once on the metadata key (or not at all if bucketed by it)
    and each query scores only its own partition's candidates.  Returns
    (query_id, *filter_cols, neighbor_id, cos, rank) with rank ≤ k,
    self-matches excluded, ties to the smaller neighbor id."""
    filter_cols = list(filter_cols)
    q = queries.select(
        F.col(id_col).alias(query_id),
        *filter_cols,
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        *filter_cols,
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(broadcast(q), filter_cols)
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn(
            "cos", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, *filter_cols, "neighbor_id", "cos", "rank")
    )


def _assign_l2(vecs: DataFrame, centroids: DataFrame, ident: str) -> DataFrame:
    """(ident, __v, __vd, cid, __dist2) — each vector's nearest centroid by
    squared L2 distance (ties → lower cid).  ``vecs`` carries a precomputed
    self-dot ``__vd``; centroids are k rows, so the join is a broadcast and
    the stage is one narrow O(rows × k × dim) pass."""
    scored = vecs.crossJoin(broadcast(centroids)).withColumn(
        "__dist2",
        F.col("__vd") - 2 * dot(F.col("__v"), F.col("__cv")) + F.col("__cd"),
    )
    w = Window.partitionBy(ident).orderBy(F.col("__dist2"), F.col("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(ident, "__v", "__vd", "cid", "__dist2")
    )


def lloyd_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int = 3,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the domain /
    topic clustering stage of a curation pipeline (SemDeDup's cluster step,
    mixture balancing, cluster-stratified eval sets all start here).

    Per iteration: (1) assignment — broadcast the k centroids over one
    corpus scan, argmin of squared L2 (ties → lower cid); (2) update —
    posexplode to (cid, dim, val), per-(cid, dim) mean, rebuild the k
    centroid arrays.  Two shuffles per iteration, both linear in
    corpus × dim with map-side partial aggregation; the corpus is never
    collected and no stage holds more than k × dim rows of centroid state.
    Iterations are sequential by algorithm (each needs the previous
    centroids), exactly as on any engine.

    Determinism (the differential-test contract, FIXTURES.md): centroids
    seed from the k min-id rows; means are decimal-stable
    (``functions.stable`` — exact, order-independent sums, so Spark's
    partitioned partial/final aggregation and a single-node engine produce
    bit-identical centroids); distances evaluate the same expression
    ``v·v − 2·v·c + c·c`` both sides.  Empty cells keep their previous
    centroid (the same rule :func:`ivf_topk` uses).

    Returns one row per input id: ``(id_col, cluster_id, dist2)`` under the
    final centroids.
    """
    from my_cudf_spark.functions.stable import DEC
    from my_cudf_spark.plans.pin import lru_persist

    # The prepared corpus is re-read by every iteration's assignment AND
    # mean pass (iters + 1 references in the lazy DAG) — persist it once,
    # exactly as MLlib's KMeans caches its norm-augmented input.
    v = lru_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        ).withColumn("__vd", dot(F.col("__v"), F.col("__v")))
    )
    # Seeding mirrors _seed_centroids: TakeOrderedAndProject on the k
    # min-id rows, window only over the k-row result.
    seed = v.orderBy("__id").limit(k)
    cents = seed.withColumn(
        "__rn", F.row_number().over(Window.orderBy("__id"))
    ).select(
        (F.col("__rn") - 1).alias("cid"),
        F.col("__v").alias("__cv"),
        F.col("__vd").alias("__cd"),
    )
    for _ in range(iterations):
        assigned = _assign_l2(v, cents, "__id")
        # NOTE (r12, measured and kept): a dim-aware keyless-style mean
        # (64 per-element decimal sums per cid, the pca-means recipe) was
        # tried and is ~2x SLOWER here than the explode path (128
        # aggregate buffers per group vs one narrow shuffle; A/B 6.0 s vs
        # 3.8 s same-session) — groupBy(cid, pos) with map-side partial
        # aggregation stays.
        means = (
            assigned.select("cid", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.col("val").cast(DEC)).cast("double") / F.count("val")).alias("m")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x.getField("m"),
                ).alias("__mv")
            )
        )
        # k rows — persisting truncates the growing lineage so the next
        # iteration's two references (assign + update join) never replay
        # this iteration's corpus-wide mean aggregation.
        cents = lru_persist(
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("__mv", "__cv").alias("__cv"))
            .withColumn("__cd", dot(F.col("__cv"), F.col("__cv")))
        )
    out = _assign_l2(v, cents, "__id")
    return out.select(
        F.col("__id").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("__dist2").alias("dist2"),
    )


def binary_signature(vec: Column, dim: int) -> list[Column]:
    """Sign-bit quantization of a ``dim``-dim vector into ``ceil(dim/32)``
    BIGINT words (FAISS ``IndexBinaryFlat`` layout; Charikar 2002 simhash
    with identity hyperplanes): word ``w`` packs dims ``32w..32w+31``
    MSB-first via the fold ``acc*2 + (x>0)`` — plain integer arithmetic
    that any engine replicates bit-for-bit (each word < 2^32, so no
    signed-overflow divergence).  256× smaller than float32: the whole
    candidate-generation scan for a 100 TB corpus fits in the page cache.
    """
    if dim % 32 != 0:
        raise ValueError("binary_signature: dim must be a multiple of 32")
    words = []
    for w in range(dim // 32):
        half = F.slice(vec, w * 32 + 1, 32)
        bits = F.transform(
            half,
            lambda x: F.when(x > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        words.append(
            F.aggregate(
                bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
            ).alias(f"sig{w}")
        )
    return words


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    candidates: int = 20,
    query_id: str = "query_id",
) -> DataFrame:
    """Two-stage quantized ANN: Hamming distance on sign-bit signatures
    generates ``candidates`` per query, exact cosine reranks to top ``k``
    (the binary-quantization search every vector store ships as its
    memory-bound tier).

    Scale shape: stage 1 scans ``dim/4`` BYTES per corpus row (a
    16-byte projection at dim=64 — the 100 TB corpus becomes a ~GB scan)
    against the broadcast query signatures, all xor+popcount inside
    whole-stage codegen; stage 2 touches full vectors for only
    ``candidates × |queries|`` rows via an equi-join back on id.  Both
    stages deterministic (ties break on neighbor id), so the whole
    approximate pipeline is oracle-checkable."""
    nwords = dim // 32
    sig_cols = [f"sig{w}" for w in range(nwords)]
    csig = corpus.select(
        F.col(id_col).alias("neighbor_id"), *binary_signature(F.col(vec_col), dim)
    )
    qsig = queries.select(
        F.col(id_col).alias(query_id),
        *[c.alias(f"q{i}") for i, c in enumerate(binary_signature(F.col(vec_col), dim))],
    )
    ham = sum(
        F.bit_count(F.col(f"sig{w}").bitwiseXOR(F.col(f"q{w}"))) for w in range(nwords)
    )
    cand = (
        csig.crossJoin(broadcast(qsig))
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("hamming", ham.cast("int"))
        .drop(*sig_cols, *[f"q{w}" for w in range(nwords)])
    )
    w1 = Window.partitionBy(query_id).orderBy("hamming", "neighbor_id")
    cand = cand.withColumn("__crk", F.row_number().over(w1)).filter(
        F.col("__crk") <= candidates
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(broadcast(q), query_id)
        .withColumn(
            "cos", dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "hamming", "cos", "rank")
    )


def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization ``q = floor(x*(127/maxabs)
    + 0.5)`` (the FAISS/Milvus SQ8 scheme): 4× smaller than float32,
    integer dot products thereafter.  floor(+0.5) not ROUND — identical
    half-handling on every engine; the scale ``127.0/maxabs`` is one
    float divide both engines evaluate identically.  An all-zero vector
    (maxabs = 0) quantizes to all zeros — without the guard 127/0 = Inf
    and 0·Inf = NaN would turn every entry NULL and the downstream norms
    NaN, with engine-divergent 0/0 semantics."""
    maxabs = F.array_max(F.transform(vec, F.abs))
    scale = F.lit(127.0) / maxabs
    return F.when(
        maxabs == F.lit(0.0), F.transform(vec, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(vec, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id: str = "query_id",
) -> DataFrame:
    """Quantized cosine top-k entirely in int8 space: integer dot products
    (exact — |q|≤127 so a 64-dim dot < 2^21) normalized by integer norms.
    approx_cos = int_dot / (sqrt(int_dot(a,a)) * sqrt(int_dot(b,b))) —
    one fixed float sequence over exact integers, so the approximate
    scores themselves are cross-engine bit-identical and oracle-checkable.
    Scale: the scan is the int8 corpus (4× smaller); same broadcast ×
    window shape as brute_force_topk."""
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), int8_quantize(F.col(vec_col)).alias("__cq")
    ).withColumn("__cn", F.sqrt(idot(F.col("__cq"), F.col("__cq")).cast("double")))
    q = queries.select(
        F.col(id_col).alias(query_id), int8_quantize(F.col(vec_col)).alias("__qq")
    ).withColumn("__qn", F.sqrt(idot(F.col("__qq"), F.col("__qq")).cast("double")))
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn(
            "approx_cos",
            idot(F.col("__qq"), F.col("__cq")).cast("double")
            / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "approx_cos", "rank")
    )


def _make_cov_partials(mu_list: list, dim: int):
    """Arrow covariance kernel factory (module-level so tests can drive
    it directly with adversarial batches): returns the ``mapInArrow``
    function computing exact int64 nano-unit partial sums of the
    centered outer products, with the overflow-flush guard.  See the
    call site in :func:`power_iteration_pca` for the full contract."""
    def _cov_partials(it):
        import numpy as np
        import pyarrow as pa

        mu_np = np.asarray(mu_list, dtype=np.float64)
        acc = np.zeros((dim, dim), dtype=np.int64)
        # Overflow guard (r11 verdict item #3): nano-unit terms run ~1e9,
        # so a single task's int64 partial sum would silently wrap around
        # ~9e9 rows·term — at 100 TB with few huge tasks that is reachable.
        # Every in-flight sum is bounded below 2^62: blocks are sub-chunked
        # so one chunk sum cannot wrap, and ``acc`` flushes as an EXTRA
        # partial emission (downstream sums partials exactly in
        # DECIMAL(38,0), so extra rows are free) before |acc|+|chunk|
        # could reach 2^63.
        LIM = np.int64(1) << 62

        def _emit(a):
            ii, jj = np.indices((dim, dim))
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(ii.ravel(), type=pa.int32()),
                    pa.array(jj.ravel(), type=pa.int32()),
                    pa.array(a.ravel(), type=pa.int64()),
                ],
                names=["i", "j", "s"],
            )

        step = max(1, 4_000_000 // (dim * dim))  # bound the (n,d,d) block
        for b in it:
            col = b.column(0)
            try:
                off = col.offsets.to_numpy()
                fast = (
                    col.null_count == 0
                    and len(off) > 1
                    and off[0] == 0
                    and bool(np.all(np.diff(off) == dim))
                )
            except Exception:
                fast = False
            if fast:
                X = (
                    col.values.to_numpy(zero_copy_only=False)[: off[-1]]
                    .reshape(-1, dim)
                )
            else:
                rows = col.to_pylist()
                if not rows:
                    continue
                # The old posexplode shape silently skipped null/ragged
                # vectors while this kernel's divisor counts every row —
                # fail loudly instead of diverging (r11 ADVICE item).
                for r in rows:
                    if r is None or len(r) != dim:
                        raise ValueError(
                            "power_iteration_pca: null or ragged vector "
                            f"(expected length {dim}, got "
                            f"{'null' if r is None else len(r)})"
                        )
                X = np.asarray(rows, dtype=np.float64)
            Xc = X - mu_np
            for s in range(0, Xc.shape[0], step):
                blk = Xc[s : s + step]
                scaled = np.floor((blk[:, :, None] * blk[:, None, :]) * 1e9 + 0.5)
                # a single term at 2^63 would wrap in the int64 cast itself,
                # before any flush could help — fail loudly instead
                if np.abs(scaled).max(initial=0.0) >= 2.0**63:
                    raise ValueError(
                        "power_iteration_pca: a centered outer-product term "
                        "overflows int64 nano-units (|x_i*x_j|*1e9 >= 2^63)"
                    )
                terms = scaled.astype(np.int64)
                mx = int(np.abs(terms).max(initial=1))
                rows_ok = max(1, int(LIM // max(mx, 1)))
                for c0 in range(0, terms.shape[0], rows_ok):
                    bs = terms[c0 : c0 + rows_ok].sum(axis=0)
                    if (
                        int(np.abs(acc).max(initial=0))
                        + int(np.abs(bs).max(initial=0))
                    ) >= int(LIM):
                        yield _emit(acc)
                        acc = np.zeros((dim, dim), dtype=np.int64)
                    acc += bs
        yield _emit(acc)

    return _cov_partials


def power_iteration_pca(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iterations: int = 6,
    components: int = 1,
):
    """Distributed top-r principal-component extraction: mean-center,
    build the d×d covariance as ONE map-side-combined aggregation over
    the exploded pair frame, run ``iterations`` power-iteration steps
    (von Mises–Pollaczek-Geiringer; the MLlib RowMatrix PCA shape with
    the eigensolve replaced by a fixed, engine-replicable iteration),
    and project every vector onto the resulting directions.

    ``components > 1`` extracts successive directions by HOTELLING
    DEFLATION: after each converged direction v the covariance is
    replaced by C - λ·v·vᵀ (λ = the final iteration's matvec norm — the
    Rayleigh-quotient estimate the fixed iteration itself produces) and
    the same iteration reruns on the deflated d²-row checkpoint.  The
    CORPUS IS NEVER RESCANNED per component — deflation is d² arithmetic
    on the checkpointed matrix, each element one exactly-rounded IEEE
    sequence (c - (λ·vᵢ)·vⱼ) both engines replicate.

    Bit-exact across engines by the same contract as lloyd_kmeans and
    learn_linear_classifier: every cross-row float sum is per-term
    quantized (the corpus-sized covariance to exact BIGINT nano-units
    via floor(x·1e9 + 0.5); the tiny iteration sums to round(·,9) +
    DECIMAL(28,9)) — order independent either way, so partitioning
    cannot move a low bit — and every within-row reduction is a
    sequential left fold both engines share.
    The fixed iteration count (not a convergence test) is what makes the
    result a pure function of the input, i.e. SQL-oracle-able.

    Scale: the covariance is ONE Arrow-batched NumPy pass — each task
    folds its batches into a d×d int64 accumulator of the identical
    per-term nano-units and ships d² tiny rows, so nothing corpus-sized
    (and no d²-per-row exploded frame) ever shuffles; the iteration loop
    touches only the d²-row covariance and a d-row vector (eagerly
    checkpointed, one tiny job per step); the projection is one narrow
    pass over the corpus with the centered direction riding a 1-row
    broadcast.  Corpus is scanned three times total (means, covariance,
    projection), each a narrow columnar scan.

    Returns ``(component_df, projected_df)``: with ``components=1``
    (legacy shape) component_df = (pos INT, val DOUBLE) — the unit
    direction after the final step — and projected_df = (id_col, pc1
    DOUBLE); with ``components=r`` component_df = (component INT, pos
    INT, val DOUBLE) and projected_df = (id_col, pc1 … pcr DOUBLE)."""
    DEC = "decimal(28,9)"
    spark = corpus.sparkSession
    n_f = F.count(F.lit(1))

    # Per-dimension means as ONE keyless aggregation over the array column
    # (64 decimal sums, partial/final — no posexplode, no 64n-row shuffle);
    # each entry is the identical sum(x::DECIMAL(28,9))::double / n the
    # grouped form computed, so the value is bit-for-bit unchanged.
    mu_arr = corpus.agg(
        F.array(
            *[
                (
                    F.sum(F.element_at(F.col(vec_col), i + 1).cast(DEC)).cast(
                        "double"
                    )
                    / n_f
                )
                for i in range(dim)
            ]
        ).alias("__mu")
    ).localCheckpoint(eager=True)
    # bounded driver materialization: exactly the d per-dimension means
    # (1 row × dim values) — they enter the covariance kernel as plan
    # literals, the seed_centroid_rows / MLlib pattern.
    mu_row = mu_arr.take(1)
    mu_list = list(mu_row[0]["__mu"]) if mu_row else []
    if len(mu_list) != dim or any(m is None for m in mu_list):
        raise ValueError(
            f"power_iteration_pca: expected {dim} dimension means, got "
            f"{len(mu_list)} (empty corpus or ragged vectors)"
        )

    # The d² covariance is ONE corpus pass of Arrow-batched NumPy partial
    # sums (guide §4.2) instead of the former d²-per-row explode +
    # self-join + 64n-row shuffle: each task folds its batches into a
    # d×d int64 accumulator of the SAME per-term exact INTEGER nano-units
    # (floor((xc_i·xc_j)·1e9 + 0.5) — IEEE multiply/floor are identical in
    # NumPy float64 and JVM double, and int64 partial sums commute), then
    # emits d² rows; only d²·n_tasks tiny rows ever shuffle.
    _cov_partials = _make_cov_partials(mu_list, dim)

    nn = corpus.agg(F.count(F.lit(1)).alias("__n"))
    cov = (
        corpus.select(F.col(vec_col).alias("__v"))
        .mapInArrow(_cov_partials, "i int, j int, s long")
        .groupBy("i", "j")
        # DECIMAL(38,0) sum: partial emissions stay exact integers with
        # ~1e38 headroom (a plain sum(long) would inherit the same wrap
        # exposure the kernel guard just removed); the final value is the
        # identical integer, so the double it converts to is bit-identical.
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (
                F.col("s").cast("double") / F.lit(1000000000.0) / F.col("__n")
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )

    def iterate(cov_k):
        """Fixed power iteration on one (possibly deflated) covariance
        checkpoint; returns (unit direction, final matvec-norm frame).

        One eager job per step (the v checkpoint): the norm rides the same
        job as a broadcast subquery over the w subtree — w is re-evaluated
        for it, but w is a d-row aggregate of a d²-row checkpoint, far
        cheaper than a second scheduled checkpoint job per step."""
        v = spark.range(dim).select(
            F.col("id").cast("int").alias("pos"),
            F.lit(1.0 / float(dim) ** 0.5).alias("val"),
        )
        nrm = None
        for _ in range(iterations):
            w = (
                cov_k.join(
                    v.select(F.col("pos").alias("__j"), "val"),
                    cov_k["j"] == F.col("__j"),
                )
                .groupBy("i")
                .agg(
                    F.sum(F.round(F.col("c") * F.col("val"), 9).cast(DEC))
                    .cast("double")
                    .alias("w")
                )
            )
            nrm = w.agg(
                F.sqrt(
                    F.sum(F.round(F.col("w") * F.col("w"), 9).cast(DEC)).cast(
                        "double"
                    )
                ).alias("n")
            )
            v = (
                w.crossJoin(F.broadcast(nrm))
                .select(
                    F.col("i").alias("pos"), (F.col("w") / F.col("n")).alias("val")
                )
                .localCheckpoint(eager=True)
            )
        return v, nrm

    vs = []
    cov_k = cov
    for k in range(components):
        v, lam = iterate(cov_k)
        vs.append(v)
        if k + 1 < components:
            # Hotelling deflation on the d²-row checkpoint: each element
            # is one exactly-rounded IEEE sequence c - (λ·vᵢ)·vⱼ — no
            # accumulation, so no decimal discipline needed, and the
            # corpus is not touched.
            vi = v.select(F.col("pos").alias("i"), F.col("val").alias("__vi"))
            vj = v.select(F.col("pos").alias("j"), F.col("val").alias("__vj"))
            cov_k = (
                cov_k.join(F.broadcast(vi), "i")
                .join(F.broadcast(vj), "j")
                .crossJoin(F.broadcast(lam.select(F.col("n").alias("__lam"))))
                .select(
                    "i",
                    "j",
                    (
                        F.col("c") - F.col("__lam") * F.col("__vi") * F.col("__vj")
                    ).alias("c"),
                )
                .localCheckpoint(eager=True)
            )

    proj = corpus.crossJoin(F.broadcast(mu_arr))
    for k, v in enumerate(vs):
        v_arr = v.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s.getField("val"),
            ).alias(f"__v{k}")
        )
        proj = proj.crossJoin(F.broadcast(v_arr))
    proj = proj.select(
        F.col(id_col),
        *[
            F.aggregate(
                F.zip_with(
                    F.zip_with(F.col(vec_col), F.col("__mu"), lambda x, m: x - m),
                    F.col(f"__v{k}"),
                    lambda d, vv: d * vv,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias(f"pc{k + 1}")
            for k in range(components)
        ],
    )
    if components == 1:
        comp_df = vs[0]
    else:
        comp_df = None
        for k, v in enumerate(vs):
            tagged = v.select(
                F.lit(k).cast("int").alias("component"), "pos", "val"
            )
            comp_df = tagged if comp_df is None else comp_df.unionByName(tagged)
    return comp_df, proj


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    candidates: int | None = None,
    query_id: str = "query_id",
) -> DataFrame:
    """Product-quantization approximate cosine top-k (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search") — the third
    quantized-ANN tier next to the sign-bit (:func:`hamming_topk`) and SQ8
    (:func:`int8_topk`) paths: split each vector into ``m`` subspaces of
    ``dim // m`` dims, quantize each sub-vector to its nearest of
    ``n_codes`` per-subspace centroids (deterministic seeding — the
    ``n_codes`` smallest-id corpus rows' sub-vectors, the ivf_topk
    convention), and score queries against the RECONSTRUCTED vectors via
    the asymmetric-distance (ADC) table: approx_cos(q, x) =
    Σₛ dot(qₛ, c[s, codeₛ(x)]) / (‖q‖ · ‖x̂‖), where every per-subspace
    dot is the shared sequential fold and both cross-subspace sums ride
    the round(·,9)+DECIMAL(28,9) order-independence contract — so the
    whole approximate pipeline is bit-identical across engines and
    hash-oracle-able, like its two siblings.

    Scale: the codebook is m × n_codes rows and always broadcasts; encode
    is one narrow projection + broadcast join + per-(vector, subspace)
    argmin (min_by, deterministic code tie-break); the search scan reads
    the m-byte code column (dim·4 / m compression — 32× at dim=64, m=8),
    and scoring joins codes to the per-query ADC table (m·n_codes rows
    per query, broadcast) — never the float corpus.  Recall vs brute
    force is asserted in tests/test_similarity.py."""
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    sub_d = dim // m
    DEC = "decimal(28,9)"
    sdot = lambda a, b: F.aggregate(  # noqa: E731  (shared sequential fold)
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )

    # per-subspace codebook from the n_codes smallest-id rows
    seed = corpus.select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__v"))
    seed = seed.orderBy("__sid").limit(n_codes)
    w_seed = Window.orderBy("__sid")
    seed = seed.withColumn("cid", F.row_number().over(w_seed) - 1)
    subs = F.explode(
        F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("__v", s * sub_d + 1, sub_d).alias("cvec"),
            )
            for s in range(m)
        ])
    )
    from my_cudf_spark.plans.pin import lru_persist

    # cents / codes each feed several branches (encode, reconstructed
    # norms, ADC, scoring) — pin them so the seed window and the encode
    # groupBy are computed once (cents is m·n_codes rows; codes is
    # m ids+codes per corpus row, never the float vectors).
    cents = lru_persist(
        seed.select("cid", subs.alias("__s")).select(
            "cid", F.col("__s.sub").alias("sub"), F.col("__s.cvec").alias("cvec")
        )
    )

    # encode: nearest centroid per (vector, subspace); L2 on sub-vectors,
    # ties broken by smallest cid via min_by on (dist2, cid)
    cs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(vec_col, s * sub_d + 1, sub_d).alias("xvec"),
                )
                for s in range(m)
            ])
        ).alias("__s"),
    ).select("neighbor_id", F.col("__s.sub").alias("sub"), F.col("__s.xvec").alias("xvec"))
    d2 = F.aggregate(
        F.zip_with(F.col("xvec"), F.col("cvec"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    codes = lru_persist(
        cs.join(F.broadcast(cents), "sub")
        .select("neighbor_id", "sub", "cid", d2.alias("__d2"))
        .groupBy("neighbor_id", "sub")
        .agg(F.min_by("cid", F.struct("__d2", "cid")).alias("code"))
    )
    # reconstructed norm²: Σ_s ‖c[s, code_s]‖² (order-independent sum)
    cnorm2 = cents.select(
        "sub", F.col("cid").alias("code"), sdot(F.col("cvec"), F.col("cvec")).alias("__cn2")
    )
    recon = (
        codes.join(F.broadcast(cnorm2), ["sub", "code"])
        .groupBy("neighbor_id")
        .agg(
            F.sqrt(
                F.sum(F.round(F.col("__cn2"), 9).cast(DEC)).cast("double")
            ).alias("__rn")
        )
    )

    # per-query ADC table: dot(q_s, c[s, cid]) for every (sub, cid)
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    qsubs = q.select(
        query_id,
        "__qn",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__qv", s * sub_d + 1, sub_d).alias("qvec"),
                )
                for s in range(m)
            ])
        ).alias("__s"),
    ).select(query_id, "__qn", F.col("__s.sub").alias("sub"), F.col("__s.qvec").alias("qvec"))
    adc = qsubs.join(F.broadcast(cents), "sub").select(
        query_id, "__qn", "sub", F.col("cid").alias("code"),
        sdot(F.col("qvec"), F.col("cvec")).alias("__dt"),
    )

    scored = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col(query_id))
        .groupBy(query_id, "neighbor_id")
        .agg(
            F.first("__qn").alias("__qn"),
            F.sum(F.round(F.col("__dt"), 9).cast(DEC)).cast("double").alias("__ip"),
        )
        .join(recon, "neighbor_id")
        .withColumn("approx_cos", F.col("__ip") / (F.col("__qn") * F.col("__rn")))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    if candidates is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "approx_cos", "rank")
        )
    # two-stage: ADC generates `candidates` per query, exact cosine
    # reranks to top-k — the hamming_topk shape; full vectors are touched
    # only for the candidates × queries equi-join
    cand = scored.withColumn("__crk", F.row_number().over(w)).filter(
        F.col("__crk") <= candidates
    )
    cfull = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    qfull = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qfv"),
        l2_norm(F.col(vec_col)).alias("__qfn"),
    )
    reranked = (
        cand.select(query_id, "neighbor_id", "approx_cos")
        .join(cfull, "neighbor_id")
        .join(broadcast(qfull), query_id)
        .withColumn(
            "cos",
            dot(F.col("__qfv"), F.col("__cv")) / (F.col("__qfn") * F.col("__cn")),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "approx_cos", "cos", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    candidates: int | None = None,
    query_id: str = "query_id",
) -> DataFrame:
    """IVF-PQ approximate cosine top-k (Jégou et al. 2011 §V) — the
    composition of the inverted-file coarse quantizer (:func:`ivf_topk`)
    with product quantization of the RESIDUALS x − centroid(x): the
    standard billion-scale ANN layout, where IVF prunes the search to
    ``n_probe`` of ``n_centroids`` cells and PQ compresses what remains
    of each vector to ``m`` codes.

    One codebook is shared across cells (trained on residuals, the FAISS
    default): the asymmetric-distance inner product then decomposes as
    ip(q, x̂) = dot(q, cent) + Σₛ dot(qₛ, cₛ[codeₛ]) — the first term is
    per (query, probed cell), the second rides the same broadcast ADC
    table as :func:`pq_topk`.  Reconstructed norms need the per-(cell,
    sub, code) cross term dot(centₛ, cₛ[code]) — an n_centroids·m·n_codes-
    row frame (2 048 rows at the defaults), always broadcastable.

    Determinism: seeded coarse centroids (smallest-id rows, the ivf_topk
    convention), residual codebook seeded from the smallest-id rows'
    residuals, argmin ties → lower code, every cross-subspace sum on the
    round(·,9)+DECIMAL(28,9) order-independence contract — so the whole
    approximate pipeline is bit-identical across engines.

    Scale: encode is one broadcast join + per-(vector, subspace) min_by;
    search touches only probed cells' code rows (m bytes/vector) and
    never the float corpus until the optional exact rerank of
    ``candidates`` rows per query."""
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    sub_d = dim // m
    DEC = "decimal(28,9)"
    sdot = lambda a, b: F.aggregate(  # noqa: E731  (shared sequential fold)
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )

    from my_cudf_spark.plans.pin import lru_persist

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    # The seed/residual/code frames each feed several downstream branches
    # (broadcast exchanges do NOT dedupe across distinct canonical plans,
    # and the static r11 plan showed 26 corpus scans for one query) — pin
    # the shared subtrees so each is computed once: cents is n_centroids
    # rows, rcents n_codes·m rows, res/codes corpus-sized but narrow
    # (ids + residuals / ids + codes — never the float corpus twice).
    cents = lru_persist(_seed_centroids(c, "neighbor_id", n_centroids))

    # coarse assignment + residuals (exact float subtraction, no rounding)
    res = lru_persist(
        _assign_nearest(c, cents, "neighbor_id", 1)
        .join(broadcast(cents), "cid")
        .select(
            "neighbor_id",
            "cid",
            F.zip_with(F.col("__v"), F.col("__cv"), lambda x, y: x - y).alias("__r"),
        )
    )

    # shared residual codebook: sub-slices of the n_codes smallest-id residuals
    rseed = res.orderBy("neighbor_id").limit(n_codes)
    rseed = rseed.withColumn(
        "code", F.row_number().over(Window.orderBy("neighbor_id")) - 1
    )
    rcents = lru_persist(
        rseed.select(
            "code",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("__r", s * sub_d + 1, sub_d).alias("rcvec"),
                    )
                    for s in range(m)
                ])
            ).alias("__s"),
        ).select(
            "code", F.col("__s.sub").alias("sub"), F.col("__s.rcvec").alias("rcvec")
        )
    )

    # encode: nearest residual-codebook entry per (vector, subspace)
    rs = res.select(
        "neighbor_id",
        "cid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__r", s * sub_d + 1, sub_d).alias("rxvec"),
                )
                for s in range(m)
            ])
        ).alias("__s"),
    ).select(
        "neighbor_id", "cid", F.col("__s.sub").alias("sub"), F.col("__s.rxvec").alias("rxvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("rxvec"), F.col("rcvec"), lambda x, c_: (x - c_) * (x - c_)),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    codes = lru_persist(
        rs.join(broadcast(rcents), "sub")
        .select("neighbor_id", "cid", "sub", "code", d2.alias("__d2"))
        .groupBy("neighbor_id", "cid", "sub")
        .agg(F.min_by("code", F.struct("__d2", "code")).alias("code"))
    )

    # reconstructed norm²: ‖cent‖² + Σₛ (2·dot(centₛ, cₛ[code]) + ‖cₛ[code]‖²)
    csubs = cents.select(
        "cid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__cv", s * sub_d + 1, sub_d).alias("csvec"),
                )
                for s in range(m)
            ])
        ).alias("__s"),
    ).select("cid", F.col("__s.sub").alias("sub"), F.col("__s.csvec").alias("csvec"))
    cross = csubs.join(rcents, "sub").select(
        "cid",
        "sub",
        "code",
        (2 * sdot(F.col("csvec"), F.col("rcvec"))
         + sdot(F.col("rcvec"), F.col("rcvec"))).alias("__cx"),
    )
    centn2 = cents.select("cid", sdot(F.col("__cv"), F.col("__cv")).alias("__c2"))
    recon = (
        codes.join(broadcast(cross), ["cid", "sub", "code"])
        .join(broadcast(centn2), "cid")
        .groupBy("neighbor_id")
        .agg(
            F.sqrt(
                (
                    F.sum(F.round(F.col("__cx"), 9).cast(DEC))
                    + F.round(F.min("__c2"), 9).cast(DEC)
                ).cast("double")
            ).alias("__rn")
        )
    )

    # query side: probed cells carry dot(q, cent); ADC is cell-independent
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    )
    probes = (
        _assign_nearest(q, cents, query_id, n_probe)
        .join(broadcast(cents), "cid")
        .select(
            query_id,
            "cid",
            F.col("__n").alias("__qn"),
            sdot(F.col("__v"), F.col("__cv")).alias("__qc"),
        )
    )
    qsubs = q.select(
        query_id,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__v", s * sub_d + 1, sub_d).alias("qvec"),
                )
                for s in range(m)
            ])
        ).alias("__s"),
    ).select(query_id, F.col("__s.sub").alias("sub"), F.col("__s.qvec").alias("qvec"))
    adc = qsubs.join(broadcast(rcents), "sub").select(
        query_id, "sub", "code", sdot(F.col("qvec"), F.col("rcvec")).alias("__dt")
    )

    scored = (
        codes.join(broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .join(broadcast(adc), [query_id, "sub", "code"])
        .groupBy(query_id, "neighbor_id")
        .agg(
            F.min("__qn").alias("__qn"),
            (
                F.sum(F.round(F.col("__dt"), 9).cast(DEC))
                + F.round(F.min("__qc"), 9).cast(DEC)
            )
            .cast("double")
            .alias("__ip"),
        )
        .join(recon, "neighbor_id")
        .withColumn("approx_cos", F.col("__ip") / (F.col("__qn") * F.col("__rn")))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    if candidates is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "approx_cos", "rank")
        )
    # two-stage rerank: exact cosine over `candidates` rows per query only
    cand = scored.withColumn("__crk", F.row_number().over(w)).filter(
        F.col("__crk") <= candidates
    )
    cfull = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    qfull = queries.select(
        F.col(id_col).alias(query_id),
        F.col(vec_col).alias("__qfv"),
        l2_norm(F.col(vec_col)).alias("__qfn"),
    )
    reranked = (
        cand.select(query_id, "neighbor_id", "approx_cos")
        .join(cfull, "neighbor_id")
        .join(broadcast(qfull), query_id)
        .withColumn(
            "cos",
            dot(F.col("__qfv"), F.col("__cv")) / (F.col("__qfn") * F.col("__cn")),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "approx_cos", "cos", "rank")
    )


def kcenter_coreset(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point
    traversal — the 2-approximation behind coreset/active-learning data
    selection, e.g. Sener & Savarese 2018, arXiv:1708.00489): start from
    the lowest-id vector, then ``k−1`` times pick the point FARTHEST
    from the chosen set (max over points of min over centers of
    distance; ties to the lower id).  The selected rows are maximally
    spread — the diverse-subset primitive a curation pipeline uses to
    downsample redundant embedding regions, complementing semantic
    dedup (which removes near-dups; this PICKS representatives).

    Returns one row per selected center: ``(round, vec_id, dist)`` —
    ``dist`` the squared L2 distance (in nano-unit² integers, exact
    DECIMAL(38,0)) from the previously-chosen set at selection time;
    NULL for round 0.  Monotonically non-increasing over rounds (the
    Gonzalez invariant — unit-tested).

    Engine-exactness: components quantize to ROUND(x·1e9) int64
    nano-units; squared distances sum as DECIMAL(38,0) (int64 would
    overflow at 64 dims × (2e9)²), so min/argmax comparisons are exact
    integer arithmetic in both engines — no float ordering anywhere.

    Scale: the classic incremental form — per round ONE narrow pass
    updates each point's min-distance against ONLY the newly chosen
    center (a 1-row broadcast), and the argmax is a
    TakeOrderedAndProject (per-partition top-1 heaps, driver merges one
    row); k rounds = k tiny jobs, the bpe_learn loop shape.  Each
    round's frame carries a dedicated persist so round t+1's two
    consumers (argmax + update) never recompute the chain."""
    from pyspark.storagelevel import StorageLevel

    if k < 1:
        raise ValueError("k must be >= 1")
    DEC = "decimal(38,0)"

    def dist2(a: Column, b: Column) -> Column:
        # square in DECIMAL: int64 nano-unit diffs overflow long when
        # squared for components beyond ±~1.5 (observed on planted data)
        term = F.zip_with(
            a, b, lambda x, y: (x - y).cast(DEC) * (x - y).cast(DEC)
        )
        return F.aggregate(
            term, F.lit(0).cast(DEC), lambda acc, v: acc + v.cast(DEC)
        )

    nano = F.transform(
        F.col(vec_col), lambda x: F.round(x * 1e9, 0).cast("long")
    )
    base = df.select(F.col(id_col).alias("id"), nano.alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cached = [base]
    try:
        c0 = base.orderBy("id").limit(1)
        acc = c0.select(
            F.lit(0).cast("int").alias("round"),
            F.col("id").alias("vec_id"),
            F.lit(None).cast(DEC).alias("dist"),
        )
        # chosen centers are REMOVED from the candidate pool each round
        # (filter vs the 1-row broadcast's id): with duplicate vectors —
        # or k beyond the distinct-point count — every remaining
        # min-distance can be 0, and the (d DESC, id) argmax would
        # otherwise re-select an already-chosen center and emit a
        # duplicate vec_id.  With fewer than k rows total, the output
        # simply stops early (< k rows) rather than repeating.
        cur = (
            base.crossJoin(
                F.broadcast(
                    c0.select(F.col("v").alias("cv"), F.col("id").alias("cid"))
                )
            )
            .filter(F.col("id") != F.col("cid"))
            .select("id", "v", dist2(F.col("v"), F.col("cv")).alias("d"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached.append(cur)
        for t in range(1, k):
            far = cur.orderBy(F.col("d").desc(), "id").limit(1)
            acc = acc.unionByName(
                far.select(
                    F.lit(t).cast("int").alias("round"),
                    F.col("id").alias("vec_id"),
                    F.col("d").cast(DEC).alias("dist"),
                )
            )
            if t < k - 1:
                cur = (
                    cur.crossJoin(
                        F.broadcast(
                            far.select(
                                F.col("v").alias("cv"), F.col("id").alias("cid")
                            )
                        )
                    )
                    .filter(F.col("id") != F.col("cid"))
                    .select(
                        "id",
                        "v",
                        F.least(
                            F.col("d"), dist2(F.col("v"), F.col("cv"))
                        ).alias("d"),
                    )
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                cached.append(cur)
        # one controlled materialization computes every persisted round
        # exactly once, then the chain is released (bpe_learn pattern)
        out = acc.localCheckpoint(eager=True)
    finally:
        while cached:
            try:
                cached.pop().unpersist()
            except Exception:
                pass
    return out
