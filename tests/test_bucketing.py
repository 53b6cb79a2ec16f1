"""Bucketed co-located joins (SURVEY.md §7.0 scale posture): writing both
sides bucketed by the join key lets Spark plan a SortMergeJoin with ZERO
Exchange operators — the 100 TB recipe for repeated fact-to-fact joins
that AQE/broadcast can't cover (both sides large).

The reference has hash_partition (partitioning.hpp:106) but no persistent
bucketing; Spark's bucketed tables are the durable version of the same
idea: partition once at write time, join forever without shuffling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_cudf_spark.sources import load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def warehouse(spark):
    # warehouse dir is a static conf — managed tables land in the default
    # ./spark-warehouse (gitignored); DROP TABLE removes the files
    yield spark
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_is_shuffle_free(warehouse):
    spark = warehouse
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
    )
    # disable broadcast so the join strategy decision is bucket-driven
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        # correctness: same count as the plain join
        plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert joined.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def _exchanges_over_bucketed_scans(df) -> list[str]:
    """The nearest Exchange above every ``Bucketed: true`` scan in ``df``'s
    executed plan tree (one-line node strings; empty when no bucketed scan
    sits below an Exchange).  The AQE root is a leaf whose plan hangs off
    ``executedPlan()``, so it is unwrapped before the walk."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    hits, stack = [], [(root, None)]
    while stack:
        node, exchange = stack.pop()
        name = node.nodeName()
        if "Exchange" in name:
            exchange = node.simpleString(100)
        elif exchange and name.startswith("Scan") and "Bucketed: true" in node.toString():
            hits.append(exchange)
        ch = node.children()
        for i in range(ch.size()):
            stack.append((ch.apply(i), exchange))
    return hits


def test_bucketed_merge_target_side_is_shuffle_free(spark):
    """merge_upsert against a bucketBy-laid-out target with
    null_safe_keys=False: both MERGE legs consume the bucketed scan's
    hash clustering directly — the ONLY Exchanges in the plan hash the
    batch-sized source, never the target (the zero-Exchange MERGE the
    cdc module's scale docstring claims)."""
    from my_cudf_spark.operators.cdc import merge_upsert

    t = "cust_mrg_guard"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    (
        load_table(spark, SF_DIR, "customer")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(t)
    )
    target = spark.table(t)
    snap = (
        load_table(spark, SF_DIR, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_totalprice").alias("c_acctbal"))
        .withColumn("is_deleted", F.col("c_custkey") % 7 == 0)
    )
    # AFTER the load_table calls — apply_runtime_confs inside them resets
    # the broadcast threshold to the profile default
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        merged = merge_upsert(
            target, snap, keys=["c_custkey"], update_cols=["c_acctbal"],
            delete_col="is_deleted", null_safe_keys=False,
        )
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Bucketed: true") == 2, plan      # both legs' scans
        assert "SortMergeJoin" in plan, plan
        # no Exchange has a bucketed target scan beneath it: the Exchanges
        # that remain (one or two, depending on whether the shuffle
        # partition count equals the bucket count) shuffle the source only
        assert _exchanges_over_bucketed_scans(merged) == [], plan
        assert "Exchange hashpartitioning(c_custkey" not in plan, plan
        assert "Exchange hashpartitioning(__t_c_custkey" not in plan, plan
        # correctness: identical result to the plain (non-bucketed) merge
        plain = merge_upsert(
            load_table(spark, SF_DIR, "customer"), snap, keys=["c_custkey"],
            update_cols=["c_acctbal"], delete_col="is_deleted",
        )
        cols = ["c_custkey", "c_acctbal"]
        got = [tuple(r) for r in merged.select(*cols).orderBy(*cols).collect()]
        want = [tuple(r) for r in plain.select(*cols).orderBy(*cols).collect()]
        assert got == want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql(f"DROP TABLE IF EXISTS {t}")
