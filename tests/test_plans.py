"""Scale guardrails: assert the planner chose 100 TB-viable physical plans
for the headline queries — filters pushed to the scan, schemas pruned,
dimension joins broadcast, shuffle counts bounded, no cartesian products.

These are the properties that decide cluster behavior; a regression here
(e.g. a dimension join silently falling back to sort-merge and shuffling
the fact table) would not change correctness results at test scale but
would dominate cost at 100 TB.
"""

from __future__ import annotations

import pytest

from my_cudf_spark import plans as P
from my_cudf_spark.queries import load_registry
from tests.conftest import SF_DIR

REGISTRY = load_registry()


def _df(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_q1_pushdown_and_pruning(spark):
    rep = P.plan_report(_df(spark, "ndsh_q1"))
    # shipdate predicate reaches the parquet scan
    assert any("l_shipdate" in f for f in rep["pushed_filters"]), rep
    # 7-column projection (of lineitem's 16) is what the scan reads
    assert all(len(s.split(",")) <= 8 for s in rep["read_schemas"]), rep
    # partial+final agg = one hash shuffle, plus one range shuffle for sort
    assert rep["shuffles"] <= 2, rep
    assert not rep["cartesian"]


@pytest.mark.parametrize(
    "name,min_broadcasts,max_hints",
    [("ndsh_q5", 2, 2), ("ndsh_q9", 1, 1), ("ndsh_q10", 1, 1)],
)
def test_star_joins_broadcast_dims(spark, name, min_broadcasts, max_hints):
    df = _df(spark, name)
    rep = P.plan_report(df)
    # Fixed-size dims (nation 25 rows, region 5 rows) are the only tables
    # with a *mandatory* broadcast hint; scale-growing tables
    # (orders/customer/supplier/part) must be left to AQE sizing so the
    # plan degrades to shuffle join at 100 TB instead of OOMing.  At test
    # SF the threshold still auto-broadcasts them (so broadcast_joins is
    # typically higher than the hint count) — the assert floor is the
    # pinned-dim count only.
    assert rep["broadcast_joins"] >= min_broadcasts, rep
    assert P.forced_broadcast_hints(df) <= max_hints, (
        "mandatory broadcast hint on a scale-growing table",
        df._jdf.queryExecution().optimizedPlan().toString(),
    )
    assert not rep["cartesian"]
    assert rep["shuffles"] <= 3, rep


def test_q6_scan_only_plan(spark):
    rep = P.plan_report(_df(spark, "ndsh_q6"))
    # pure filter+agg: every predicate pushed, zero joins, single agg shuffle
    assert rep["pushed_filters"] and any("l_discount" in f for f in rep["pushed_filters"])
    assert rep["broadcast_joins"] == 0
    assert rep["shuffles"] <= 1, rep


def test_theta_join_is_bnlj_not_cartesian(spark):
    rep = P.plan_report(_df(spark, "join_theta"))
    # conditional join (join.hpp:579) must plan as broadcast nested loop,
    # never CartesianProduct
    assert not rep["cartesian"], rep
    assert rep["broadcast_joins"] >= 1, rep


def test_dedup_lsh_plan_bounded(spark):
    rep = P.plan_report(_df(spark, "dedup_minhash_lsh"))
    # signature build + banding + verify: hash/agg shuffles only, no
    # cartesian, and the candidate-verify joins stay hash/broadcast
    assert not rep["cartesian"], rep
    assert rep["shuffles"] <= 12, rep


def test_vector_lsh_plan_bounded(spark):
    rep = P.plan_report(_df(spark, "vec_topk_lsh"))
    assert not rep["cartesian"], rep


def test_asof_join_no_cartesian(spark):
    rep = P.plan_report(_df(spark, "join_asof"))
    assert not rep["cartesian"], rep


def test_cache_subplan_reuse(spark):
    """Cache IR node (cudf_polars ir.py:711): df.cache() makes every later
    consumer scan the in-memory columnar copy (InMemoryTableScan)."""
    from my_cudf_spark.sources import load_table

    base = load_table(spark, SF_DIR, "orders").groupBy("o_orderstatus").count()
    base.cache()
    try:
        base.count()  # materialize
        plan = P.physical_plan(base.filter("count > 0"))
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
    finally:
        base.unpersist()


def test_spearman_rank_is_distributed(spark):
    # rank_avg_distinct's scale contract: ranks are computed on the
    # distinct-value tables (every window is a cumulative sum over the
    # distinct-count column __cnt), never a per-row rank window that would
    # serialize each returnflag group into one task; the tiny quantity
    # rank table broadcasts.
    df = _df(spark, "agg_covar_spearman")
    plan = P.physical_plan(df)
    windows = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert windows and all("__cnt" in l for l in windows), plan
    rep = P.plan_report(df)
    assert rep["broadcast_joins"] >= 1, rep
    assert not rep["cartesian"]


def test_range_join_query_is_equi_join(spark):
    rep = P.plan_report(_df(spark, "join_range"))
    assert not rep["cartesian"], rep
    plan = _df(spark, "join_range")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_split_is_narrow(spark):
    # Deterministic sampling must add ZERO shuffles beyond the final sort:
    # membership is a per-row hash, so the plan is scan → project → sort.
    rep = P.plan_report(_df(spark, "sample_split"))
    assert rep["shuffles"] <= 1, rep  # the orderBy only
    assert not rep["cartesian"]


def test_quality_filter_threshold_is_broadcast(spark):
    # The per-lang threshold dim must come back as a broadcast join, not a
    # shuffle of the full corpus on lang (a 3-value skew key at scale).
    rep = P.plan_report(_df(spark, "text_quality_filter"))
    assert rep["broadcast_joins"] >= 1, rep
    assert not rep["cartesian"]


def test_contamination_no_cartesian(spark):
    rep = P.plan_report(_df(spark, "text_contamination"))
    assert not rep["cartesian"], rep


def test_ivf_centroid_join_is_broadcast(spark):
    # Centroid assignment is corpus × centroids; the centroid side is
    # bounded so it must be the broadcast side of a BNLJ/cross, never a
    # shuffle-partitioned cartesian.
    rep = P.plan_report(_df(spark, "vec_topk_ivf"))
    assert rep["broadcast_joins"] >= 1, rep


def test_ivf_centroid_seeding_bounded_not_global_window(spark):
    # Centroid seeding takes the n_centroids smallest ids.  The scale
    # contract: that is a TakeOrderedAndProject (per-partition k-row heaps)
    # feeding a window over <= n_centroids rows — NEVER an unpartitioned
    # window over the full corpus (one task scanning 100 TB).  Every
    # unpartitioned window in the plan must sit above a limit.
    df = _df(spark, "vec_topk_ivf")
    plan = P.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    subs = P.global_window_subtrees(df)
    assert subs, "expected the tiny seeding window to remain"
    for sub in subs:
        assert "TakeOrderedAndProject" in sub or "GlobalLimit" in sub, sub


def test_row_index_hconcat_no_corpus_global_window(spark):
    # with_row_index(order_by) must route through global_cumsum: the ONLY
    # single-partition windows allowed are the per-partition-totals prefix
    # sums (input = one row per partition, keyed on __pid) — never a window
    # holding the full orders table in one task.
    import re

    df = _df(spark, "frame_hconcat_rowindex")
    subs = P.global_window_subtrees(df)
    assert subs, "expected the tiny __pid-prefix windows"
    for sub in subs:
        assert re.search(r"keys=\[__pid|TakeOrderedAndProject|GlobalLimit", sub), sub


def test_tpch_q4_semi_join_no_duplication(spark):
    # EXISTS compiles to a left-semi join: no cartesian, no distinct stage,
    # and no mandatory broadcast (lineitem grows with SF).
    df = _df(spark, "tpch_q4")
    rep = P.plan_report(df)
    assert "SemiJoin" in P.physical_plan(df) or "LeftSemi" in P.physical_plan(df), rep
    assert not rep["cartesian"]
    assert P.forced_broadcast_hints(df) == 0


def test_tpch_q19_derived_predicates_pushed(spark):
    # Catalyst derives single-side implications of the OR-of-ANDs and
    # pushes them to both scans (brand IN for part, quantity range for
    # lineitem).
    rep = P.plan_report(_df(spark, "tpch_q19"))
    joined = " ".join(rep["pushed_filters"])
    assert "p_brand" in joined, rep
    assert "l_quantity" in joined, rep
    assert not rep["cartesian"]


def test_tpch_q3_topk_not_global_sort(spark):
    # LIMIT 10 over an ordered agg must plan as TakeOrderedAndProject
    # (per-partition heaps), not a full global sort.
    assert "TakeOrderedAndProject" in P.physical_plan(_df(spark, "tpch_q3"))


def test_tpch_q17_single_lineitem_scan(spark):
    # The correlated avg is a window over the join, so lineitem appears in
    # exactly one scan node.
    plan = P.physical_plan(_df(spark, "tpch_q17"))
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_no_pinned_broadcasts_on_facts(spark):
    # Only fixed-size nation/region may carry mandatory hints anywhere in
    # the ten added queries.
    for name in ["tpch_q3", "tpch_q7", "tpch_q8", "tpch_q13", "tpch_q14",
                 "tpch_q15", "tpch_q18"]:
        df = _df(spark, name)
        assert P.forced_broadcast_hints(df) <= 3, name
        assert not P.has_cartesian(df), name


def test_mixture_sample_thresholds_broadcast(spark):
    # The per-domain threshold table joins broadcast; the corpus is never
    # shuffled for the join.
    df = _df(spark, "sample_mixture")
    rep = P.plan_report(df)
    assert rep["broadcast_joins"] >= 1, rep
    assert not rep["cartesian"]


def test_tpch_q21_bounded_lineitem_scans(spark):
    # exists/not-exists both derive from the aggregated lateness frame:
    # at most 2 lineitem scans (a correlated-self-join translation costs
    # 3 scans plus two shuffled self-joins).
    df = _df(spark, "tpch_q21")
    plan = P.physical_plan(df)
    assert plan.count("lineitem.parquet") <= 2, plan
    assert not P.has_cartesian(df)


def test_tpch_q22_anti_join_shape(spark):
    df = _df(spark, "tpch_q22")
    plan = P.physical_plan(df)
    assert "LeftAnti" in plan or "AntiJoin" in plan, plan
    assert not P.has_cartesian(df)


def test_pipeline_curation_single_documents_scan(spark):
    # mixture_sample embeds its input subplan twice (per-domain counts +
    # the final membership join); the pipeline persists the deduped
    # survivors so both embeddings read the cache and documents is scanned
    # and quality-scored exactly once.
    from my_cudf_spark.operators.dedup import release_cached

    try:
        df = _df(spark, "pipeline_curation")
        # Structural check on the post-cache-manager logical tree: both
        # embeddings of the deduped subplan must be InMemoryRelation and no
        # documents FileScan may survive outside the cached subtree.
        # (String-counting the physical plan text is order-dependent: a
        # materialized cache reprints its build plan differently.)
        rep = P.cache_substitution(df, "documents.parquet")
        assert rep["in_memory_relations"] >= 2, rep
        assert rep["naked_scans"] == 0, rep
    finally:
        release_cached()


def test_pipeline_curation_no_cartesian_no_pinned_broadcast(spark):
    # The mixture-threshold crossJoin is a 1-row scalar broadcast, which
    # must plan as BroadcastNestedLoop, never CartesianProduct; the only
    # mandatory broadcasts are the tiny threshold/scalar frames.
    df = _df(spark, "pipeline_curation")
    assert not P.has_cartesian(df)


def test_corpus_overlap_single_scan_via_cached_postings(spark):
    # The vocab-sized posting frame is persisted and every consumer (pair
    # expansion + both per-source count references) reads the cache —
    # documents is physically scanned once, the other "documents.parquet"
    # occurrences in the plan text are InMemoryRelation reprinting its
    # build plan.
    df = _df(spark, "corpus_overlap")
    plan = P.physical_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert not P.has_cartesian(df)


def test_epoch_shuffle_no_corpus_global_window(spark):
    # epoch_shuffle's rank rides the deterministic-bucket cumsum: the only
    # single-partition windows allowed are the __pid-prefix sums over the
    # one-row-per-partition totals frame; no checkpoint RDD scan either
    # (the bucket id is a pure function of row values).
    import re

    df = _df(spark, "sample_epoch_shuffle")
    plan = P.physical_plan(df)
    assert "Scan ExistingRDD" not in plan, plan  # no localCheckpoint
    for sub in P.global_window_subtrees(df):
        assert re.search(r"keys=\[__pid|TakeOrderedAndProject|GlobalLimit", sub), sub


def test_incremental_dedup_anti_join_shape(spark):
    # The corpus side must reduce to DISTINCT hashes before the anti-join
    # (an aggregate below the join) and the join must be left-anti — the
    # shape where corpus text never crosses the wire.
    df = _df(spark, "dedup_incremental")
    plan = P.physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert not P.has_cartesian(df)


def test_null_safe_join_stays_hash_partitioned(spark):
    # eqNullSafe keys must plan as a hash-partitionable equi-join (null is
    # one ordinary bucket) — never BroadcastNestedLoop/cartesian.
    df = _df(spark, "join_null_safe")
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan, plan


def test_partitioned_roundtrip_prunes_partitions(spark):
    # the priority predicate must prune at the partition level
    # (PartitionFilters on the scan), not filter rows post-scan
    df = _df(spark, "io_partitioned_roundtrip")
    plan = df._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan.split("PartitionFilters:")[1][:200], plan


def test_fuzzy_join_blocked_not_crossed(spark):
    # the fuzzy join must candidate via the segment-key hash equi-join —
    # never a cartesian / BNLJ over the two name sets
    df = _df(spark, "join_fuzzy")
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_frame_describe_no_keyless_percentile_buffer(spark):
    # describe's quartiles must ride the distributed rank-bracketing shape
    # (operators.stats.exact_quantiles) — a keyless percentile(array(...))
    # agg funnels the whole column into one final-reducer ObjectHashAggregate
    # buffer (round-3 scale flag).
    df = _df(spark, "frame_describe")
    plan = P.physical_plan(df)
    assert "percentile(" not in plan, plan
    assert not P.has_cartesian(df)


def test_bucketed_join_zero_hash_exchange(spark):
    # bucketBy(8, key) on both sides must satisfy the SortMergeJoin's AND
    # the same-key aggregation's clustering — zero hash Exchange anywhere;
    # the only exchange allowed is the final presentation-sort range
    # partitioning.
    df = _df(spark, "join_bucketed")
    plan = P.physical_plan(df)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_filtered_topk_joins_on_metadata_key(spark):
    # candidates must arrive via the label equi-join — no cartesian /
    # cross-score-then-filter shape
    df = _df(spark, "vec_filtered_topk")
    plan = P.physical_plan(df)
    assert not P.has_cartesian(df)
    assert "CartesianProduct" not in plan, plan


def test_lm_score_no_cartesian_no_udf(spark):
    # bigram LM: count-table hash joins + a 1-row vocab broadcast; no
    # cartesian, no Python UDF anywhere in the plan
    df = _df(spark, "text_lm_score")
    plan = P.physical_plan(df)
    assert not P.has_cartesian(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_lm_score_single_corpus_scan_via_cached_tokens(spark):
    # the token projection feeds unigram counts, bigram counts AND the
    # per-doc scoring join — all three must read the lru_persist cache,
    # leaving exactly one real documents scan (r4 verdict: was 3-4 scans)
    from my_cudf_spark.plans.pin import release_persisted

    try:
        df = _df(spark, "text_lm_score")
        rep = P.cache_substitution(df, "documents.parquet")
        assert rep["in_memory_relations"] >= 3, rep
        assert rep["naked_scans"] == 0, rep
    finally:
        release_persisted()


def test_bm25_single_corpus_scan_via_cached_tokens(spark):
    # lens / corpus stats / tf are three subtrees over the token
    # projection; all must hit the cache — one real documents scan
    from my_cudf_spark.plans.pin import release_persisted

    try:
        df = _df(spark, "text_bm25")
        rep = P.cache_substitution(df, "documents.parquet")
        assert rep["in_memory_relations"] >= 3, rep
        assert rep["naked_scans"] == 0, rep
    finally:
        release_persisted()


def test_corr_matrix_single_fixed_buffer_pass(spark):
    # the whole matrix must come from ONE aggregation over lineitem
    # (fixed k + k(k+1)/2 sums), not one pass per pair
    df = _df(spark, "frame_corr_matrix")
    plan = P.physical_plan(df)
    assert plan.count("lineitem.parquet") <= 2, plan  # scan + reuse reprint
    assert "percentile(" not in plan


def test_quantile_normalize_no_global_window(spark):
    # percent-rank must ride the distributed rank shape: the only global
    # (unpartitioned) window subtrees allowed are the __pid-prefix sums
    # over the one-row-per-partition totals frame
    import re

    df = _df(spark, "frame_quantile_normalize")
    for sub in P.global_window_subtrees(df):
        assert re.search(r"keys=\[__pid|TakeOrderedAndProject|GlobalLimit", sub), sub


def test_ntile_qcut_no_global_window(spark):
    # both ntile buckets must ride the distributed row-index shape; the
    # only global (unpartitioned) window subtrees allowed are the
    # __pid-prefix sums over one-row-per-partition totals frames
    import re

    df = _df(spark, "window_ntile_qcut")
    for sub in P.global_window_subtrees(df):
        assert re.search(r"keys=\[__pid|TakeOrderedAndProject|GlobalLimit", sub), sub


def test_merge_upsert_no_full_outer_no_cartesian(spark):
    # MERGE must plan as the scale shape: matched leg = left join (source
    # side broadcastable), insert leg = null-safe anti-join against the
    # target's key projection — never a full-outer join of target payload,
    # never a cartesian
    df = _df(spark, "cdc_merge_upsert")
    plan = P.physical_plan(df)
    assert "FullOuter" not in plan, plan
    assert "LeftAnti" in plan or "AntiJoin" in plan, plan
    assert not P.has_cartesian(df)


def test_scd2_touches_current_slice_only(spark):
    # history rows ride a union leg; the change joins hit the filtered
    # current slice (is_current pushdown visible as a Filter before any
    # join); no cartesian
    df = _df(spark, "cdc_scd2")
    assert not P.has_cartesian(df)
    plan = P.physical_plan(df)
    assert "Union" in plan, plan


def test_vocab_build_windows_bounded_by_limit(spark):
    # rank/cumsum windows must run over the top-32 TakeOrderedAndProject
    # result, never a corpus-global sort
    df = _df(spark, "text_vocab_build")
    plan = P.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert not P.has_cartesian(df)


def test_semantic_dedup_cell_blocked_pairs(spark):
    # the pairwise cosine join must carry the cell equi-key (never an
    # unblocked id_a < id_b nested loop over the corpus); centroid
    # assignment is the only (broadcast-tiny) nested loop allowed
    df = _df(spark, "vec_semantic_dedup")
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_lru_persist_survives_semantic_hash_collision(spark, monkeypatch):
    """A 32-bit semanticHash collision between two DIFFERENT plans must not
    return the wrong cached frame — the hit is confirmed with
    sameSemantics before reuse (r5 advice)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from my_cudf_spark.plans import pin

    monkeypatch.setattr(DataFrame, "semanticHash", lambda self: 42)
    pin.release_persisted()
    a = spark.range(5).withColumn("x", F.col("id") * 2)
    b = spark.range(5).withColumn("x", F.col("id") * 3)
    pa_ = pin.lru_persist(a)
    pb = pin.lru_persist(b)
    assert pa_ is not pb
    assert [r.x for r in pb.orderBy("id").collect()] == [0, 3, 6, 9, 12]
    # identical plan still reuses the persisted frame
    assert pin.lru_persist(spark.range(5).withColumn("x", F.col("id") * 3)) is pb
    pin.release_persisted()


def test_classifier_plan_is_pure_codegen(spark):
    """text_quality_model: zero Python evaluation nodes (the classifier is
    whole-stage-codegen Column arithmetic), scan pruned to the two
    consumed columns, and the only exchange is the final presentation
    sort."""
    from my_cudf_spark.plans.inspect import physical_plan, read_schemas
    from my_cudf_spark.queries import load_registry

    df = load_registry()["text_quality_model"].fn(spark, SF_DIR)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()
    schemas = read_schemas(df)
    assert schemas and all(
        "doc_id" in s and "text" in s and "source" not in s for s in schemas
    )


def test_lsh_batch_twin_has_no_cartesian(spark):
    """stream_lsh_dedup's batch leg pairs via the banded equi-join: no
    cartesian/BNL product in the plan, candidates stream through a hash
    join on (band_idx, band_val)."""
    from pyspark.sql import functions as F

    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.plans.inspect import has_cartesian, physical_plan
    from my_cudf_spark.queries.streaming_queries import _ADD_A, _ADD_B
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.minhashdd import attach_minhash, stream_lsh_dedup

    lms = M.audio_landmarks(
        M.attach_payload(load_table(spark, SF_DIR, "documents")), "doc_id"
    )
    sigged = attach_minhash(lms, "lms", _ADD_A, _ADD_B)
    out = stream_lsh_dedup(sigged, "doc_id", "sig", bands=6, rows=4, min_matches=17)
    plan = physical_plan(out)
    assert not has_cartesian(out)
    assert "BroadcastNestedLoopJoin" not in plan


def test_ccnet_buckets_no_global_window_threshold_broadcast(spark):
    # The tercile thresholds must come from a 1-row aggregate riding a
    # broadcast join — never a global sort or single-task window over the
    # scored corpus.
    df = _df(spark, "text_ccnet_buckets")
    plan = P.physical_plan(df)
    assert P.global_window_subtrees(df) == [], plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_hamming_topk_candidate_stage_reads_signatures_not_vectors(spark):
    # Stage 1 (Hamming candidate generation) must scan the 2-word
    # signature projection; full embedding vectors may be joined back only
    # AFTER the per-query candidate window. Guard: the windows in the plan
    # are partitioned by query (no global window), and no cartesian
    # product appears (the query side is broadcast).
    df = _df(spark, "vec_topk_hamming")
    assert P.global_window_subtrees(df) == []
    assert not P.has_cartesian(df)


def test_pca_no_corpus_global_window_no_cartesian(spark):
    # The PCA pipeline must keep corpus work distributed: no global
    # (unpartitioned) window anywhere, and the direction/mean arrays ride
    # 1-row broadcasts (BroadcastNestedLoopJoin), never a cartesian.
    df = _df(spark, "vec_pca_project")
    assert P.global_window_subtrees(df) == []
    assert not P.has_cartesian(df)


def test_small_source_parallelism_guard(spark):
    # Compute-heavy corpora (documents/embeddings) must not run their
    # expensive projections as ONE task when the fixture arrives as a
    # single scan split: load_table inserts a round-robin Exchange sized
    # to the session parallelism.  The guard is conditional on the actual
    # split count, so at cluster scale (thousands of splits) no Exchange
    # enters the plan.
    from pyspark.sql import functions as F

    from my_cudf_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # Predicate pushdown and column pruning must survive the Exchange:
    # the filter lands in the parquet scan, below the repartition.
    plan = P.physical_plan(docs.filter(F.col("doc_id") < 100).select("doc_id"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan

    # Replay staging opts out: its plan stays the raw single-split scan.
    pinned = load_table(spark, SF_DIR, "documents", parallelize=False)
    assert "Exchange" not in P.physical_plan(pinned)


def test_pipeline_pretrain_one_text_shuffle(spark):
    # The pretraining flagship moves corpus TEXT through exactly one hash
    # exchange (the dedup partition).  Everything downstream — epoch-rank
    # and token-offset cumsums, pack arithmetic — exchanges doc-level
    # metadata only; the only single-partition windows are the bounded
    # __pid-prefix sums of the deterministic-bucket cumsum.  Round-robin
    # exchanges (the small-source scan guard) are excluded: conditional,
    # absent at cluster scale.
    import re

    from my_cudf_spark.plans.pin import release_persisted
    from my_cudf_spark.queries.pipeline_queries import _pretrain_frame

    # cache-state independence: a warm LRU (e.g. pipeline_pretrain_bestfit
    # persisted the shared curated-tok frame in an earlier test) substitutes
    # an InMemoryRelation whose reprint carries a second _w0 exchange id —
    # release so the guard always reads the cold shipped plan
    release_persisted()
    df = _pretrain_frame(spark, SF_DIR)
    plan = P.physical_plan(df)
    # String plans repeat shared subtrees (the persisted dedup output is
    # referenced by both cumsum branches), so dedupe exchanges by plan_id.
    pairs = {
        pid: key
        for key, pid in re.findall(
            r"Exchange hashpartitioning\((\w+)#[^\n]*\[plan_id=(\d+)\]", plan
        )
    }
    keys = list(pairs.values())
    # exactly one hash exchange on the dedup window key (_w0 = md5 of
    # normalized text) — the single corpus-text shuffle; every other hash
    # exchange is keyed on cumsum metadata (__pid bucket ids)
    assert sum(1 for k in keys if k.startswith("_w")) == 1, keys
    assert all(k.startswith(("_w", "__pid", "__ek")) for k in keys), keys
    assert not P.has_cartesian(df)
    for sub in P.global_window_subtrees(df):
        assert re.search(r"keys=\[__pid|TakeOrderedAndProject|GlobalLimit", sub), sub


def test_pca_topr_no_corpus_global_window_no_cartesian(spark):
    # Deflated two-component PCA keeps the vec_pca_project contract: no
    # global (unpartitioned) window, direction/mean arrays ride 1-row
    # broadcasts, and deflation is d²-row checkpoint arithmetic — the
    # corpus subtree must appear at most twice (covariance + projection),
    # never once per component.
    df = _df(spark, "vec_pca_topr")
    assert P.global_window_subtrees(df) == []
    assert not P.has_cartesian(df)


def test_interval_overlap_no_cartesian(spark):
    """The overlap join must plan as a hash equi-join on (keys, bin),
    never BNLJ/cartesian over the two interval sets."""
    rep = P.plan_report(_df(spark, "join_interval_overlap"))
    assert not rep["cartesian"], rep


def test_market_basket_no_cartesian(spark):
    """Pair generation is an equi-join on the basket key; the support
    frames ride broadcasts."""
    rep = P.plan_report(_df(spark, "agg_market_basket"))
    assert not rep["cartesian"], rep
    assert rep["broadcast_joins"] >= 2, rep


def test_entity_resolution_no_cartesian(spark):
    """Star edges + pigeonhole fuzzy blocking keep the linkage free of
    cartesian products end-to-end (components included)."""
    rep = P.plan_report(_df(spark, "pipeline_entity_resolution"))
    assert not rep["cartesian"], rep


def test_ivfpq_broadcasts_and_no_cartesian(spark):
    """IVF-PQ's codebook/ADC/probe frames are all broadcast-sized; the
    corpus is never crossed against anything unbounded."""
    rep = P.plan_report(_df(spark, "vec_topk_ivfpq"))
    assert rep["broadcast_joins"] >= 4, rep


def test_token_budget_single_corpus_agg(spark):
    """The waterfill touches the corpus once (per-source agg) plus the
    replication pass; the allocation window runs over the bounded
    per-source frame, and no cartesian enters the plan."""
    rep = P.plan_report(_df(spark, "sample_token_budget"))
    assert not rep["cartesian"], rep


def test_repeat_pass_reuses_generated_code(spark):
    """A second pass of the iterative driver-built queries (classifier GD,
    k-means) finds its generated classes in Spark's codegen cache: the
    pass generates more classes than the default 100-entry cache holds
    (~150 at sf0.001), so an undersized cache recompiles nearly all of
    them on every pass."""
    from my_cudf_spark.plans.pin import release_persisted
    from my_cudf_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compile_count

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def one_pass():
        for name in ("text_classifier_train_apply", "vec_kmeans"):
            _df(spark, name).write.format("noop").mode("overwrite").save()
            release_persisted()
            spark.catalog.clearCache()

    one_pass()
    before = codegen_compile_count(spark)
    one_pass()
    assert codegen_compile_count(spark) - before <= 10


def test_conf_sentinel_restores_plan_affecting_confs(spark):
    """An external change to a plan-affecting profile conf is put back by
    the next apply_runtime_confs; the drain-owned shuffle partition count
    is left as it is."""
    from my_cudf_spark.session import RUNTIME_CONFS, apply_runtime_confs

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    apply_runtime_confs(spark)
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == RUNTIME_CONFS[
            "spark.sql.adaptive.enabled"
        ]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
