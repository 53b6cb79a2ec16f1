"""True Structured-Streaming queries, oracle-checked.

Each query replays the ``events`` fixture through ``readStream`` (file
source, 4 micro-batches), runs a stateful streaming operator, drains it with
``trigger(availableNow)`` into the memory sink, and returns the materialized
result — which must equal the batch answer, so the DuckDB oracle applies to
the *streaming* execution path.  This is strictly stronger than the
reference's streaming story (offset-range Kafka pulls into batch frames,
custreamz kafka.py:82-176): here windows, watermarks, dedup state and
custom per-key state survive across micro-batches.

Scale: the file source is stand-in plumbing for Kafka (same DataFrame once
loaded — ``streaming.sources.kafka_stream``).  Watermark delay is set past
the fixture's 30-day span so bounded replay is exact; in production the
delay bounds state instead.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_cudf_spark.queries import register
from my_cudf_spark.streaming import ops as S
from my_cudf_spark.streaming.sources import replay_events
from my_cudf_spark.streaming.stateful import running_totals

_run_id = count()


@contextmanager
def _drain_envelope(spark: SparkSession, work_dirs: list[str]):
    """Conf envelope of every bounded drain: one task wave per stateful
    micro-batch.  A stateful stage runs one state-store load/commit (and,
    for applyInPandasWithState, one Python task) per shuffle partition
    EVERY micro-batch, so the partition count is the executor slot count
    capped at 8 — more partitions than slots only queue a second wave of
    that per-batch floor, and the cap keeps wide hosts from paying one
    store per slot (on a real cluster this is sized to state volume, not
    core count).  The count is fixed per fresh checkpoint, so results do
    not depend on it.  Bounded replay never restarts from checkpoint
    mid-run, so only 2 batches of delta files are retained (the default
    100 only adds maintenance-thread disk work that shows up as cross-run
    timing jitter).  Both confs are restored and ``work_dirs`` removed on
    exit, also when the drain raises."""
    confs = {
        "spark.sql.shuffle.partitions": str(min(8, spark.sparkContext.defaultParallelism)),
        "spark.sql.streaming.minBatchesToRetain": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        for wd in work_dirs:
            shutil.rmtree(wd, ignore_errors=True)


def _drain_concurrent(
    specs: list[tuple[DataFrame, str, str]], work_dirs: list[str]
) -> list[DataFrame]:
    """Drain several INDEPENDENT bounded streams at once (guide §2.6 —
    actions are only sequential because driver code awaits them
    sequentially): start every query, then await them all, under
    :func:`_drain_envelope`.  A stateful drain is mostly a chain of tiny
    sequential stages (state-store open/commit, offset logs), so two
    concurrent drains back-fill each other's idle cores — measured ~1.6×
    on stream_ann_retrain_replay's epoch-0 index + stats drains, which
    read the same staged replay and share no state.  ``specs``:
    (stream_df, tag, output_mode) per drain; every dir in ``work_dirs``
    is removed after ALL drains finish."""
    spark = specs[0][0].sparkSession
    with _drain_envelope(spark, work_dirs):
        started = []
        for df, tag, mode in specs:
            name = f"{tag}_{next(_run_id)}"
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            started.append((q, name))
        for q, name in started:
            q.awaitTermination()
            S.record_progress(q, name)
        return [spark.table(name) for _, name in started]


def _drain(stream_df: DataFrame, tag: str, work_dir: str, output_mode: str | None = None) -> DataFrame:
    """Run the bounded stream to completion under :func:`_drain_envelope`,
    drop the staging dir, and return the result rows (the memory sink
    lives in driver memory)."""
    with _drain_envelope(stream_df.sparkSession, [work_dir]):
        return S.run_to_memory(stream_df, f"{tag}_{next(_run_id)}", output_mode)


@register(
    "stream_tumbling_replay",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
    """,
)
def stream_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling count by event_type computed ON A STREAM (watermarked
    window agg, state carried across micro-batches), equal to the batch
    answer by construction."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    agg = S.tumbling_agg(
        stream,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
        watermark="40 days",
    )
    out = _drain(agg.drop("win_end"), "tumbling", work_dir)
    return out.orderBy("win_start", "event_type")


@register(
    "stream_dedup_replay",
    sql="SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) via
    ``dropDuplicatesWithinWatermark`` — watermark past the replay span makes
    it equivalent to batch DISTINCT; in production the delay bounds the
    dedup state instead (SURVEY.md §2.12)."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    deduped = S.dedup(
        stream.select("ts", "user_id", "event_type"),
        ["user_id", "event_type"],
        ts_col="ts",
        watermark="40 days",
    ).select("user_id", "event_type")
    out = _drain(deduped, "dedup", work_dir)
    return out.orderBy("user_id", "event_type")


@register(
    "stream_running_totals",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful running totals (``stateful.running_totals``): per-user
    (count, sum) in Spark's native streaming-aggregation state, updated
    each micro-batch, update-mode emissions; the final state per key
    equals the batch aggregate.  Float note: the state accumulates chunk
    sums in replay order vs the oracle's single pass — ROUND(_, 4) absorbs
    the last-ulp difference."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    totals = running_totals(stream, ["user_id"], "value")
    updates = _drain(totals, "running", work_dir, output_mode="update")
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_join_replay",
    sql="""
    WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts FROM events
               WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
           MIN(p.pts) AS first_purchase
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.pts >= c.cts
                 AND p.pts <= c.cts + INTERVAL 1 HOUR
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join (the Structured Streaming capability the
    reference's Kafka-ingest-only surface can't express): clicks joined to
    purchases by the same user within the following hour, both sides
    watermarked so the join state is bounded by the event-time range
    condition.  Replayed micro-batches; watermark past the replay span
    makes the drained result equal the batch join by construction (the
    per-user rollup runs in batch on the drained pairs — counting is not
    the operator under test)."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("cts"))
        .withWatermark("cts", "40 days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts"))
        .withWatermark("pts", "40 days")
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = _drain(pairs.select("user_id", "cts", "pts"), "ssjoin", work_dir)
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("pts").alias("first_purchase"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_sketch_replay",
    sql="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           COUNT(DISTINCT user_id) AS users,
           TRUE AS est_within_2pct
    FROM events GROUP BY 1 ORDER BY day
    """,
)
def stream_sketch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches built ON A STREAM: per-day user sketches
    accumulate across micro-batches inside a watermarked tumbling window
    (the shuffle carries kilobyte sketches, never raw ids — the pattern
    that gives streaming distinct counts bounded state at 100 TB).  The
    drained result is compared as exact daily distincts plus the
    estimate-within-contract flag (same check shape as
    sketch_distinct_users — exactness of an HLL estimate is regime-
    dependent, the ±2% bound is not)."""
    from my_cudf_spark.operators import sketches as SK
    from my_cudf_spark.sources import load_table

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    # exact COUNT(DISTINCT) is not allowed in a streaming aggregation —
    # the sketch IS the streaming-legal distinct; the exact side of the
    # contract check comes from the batch table after draining.
    agg = S.tumbling_agg(
        stream,
        "ts",
        "1 day",
        keys=[],
        aggs=[F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sketch")],
        watermark="40 days",
    )
    out = _drain(agg, "sketch", work_dir)
    est = out.select(F.col("win_start").alias("day"), SK.estimate().alias("est"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count_distinct("user_id").alias("users"))
    )
    return (
        exact.join(est, "day")
        .select(
            "day",
            "users",
            (F.abs(F.col("est") - F.col("users")) <= 0.02 * F.col("users"))
            .alias("est_within_2pct"),
        )
        .orderBy("day")
    )


@register(
    "stream_session_replay",
    sql="""
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                         >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
    ), numbered AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization computed ON A STREAM (``session_window``
    state merging across micro-batches — sessions that straddle a
    micro-batch boundary must merge in the state store, the hardest
    streaming-window case; the reference has no event-time machinery at
    all).  Equal to the batch gaps-and-islands answer by construction, so
    the same oracle as events_session applies to the streaming path."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    agg = S.session_agg(
        stream,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
        watermark="40 days",
    )
    out = _drain(agg, "session", work_dir)
    return out.select(
        "user_id", "session_start", "session_end", "n_events"
    ).orderBy("user_id", "session_start")


@register(
    "stream_sliding_replay",
    sql="""
    SELECT ws AS win_start, COUNT(*) AS n_events
    FROM (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - k.k * INTERVAL '30 minutes' AS ws
          FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
    GROUP BY 1 ORDER BY win_start
    """,
)
def stream_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window ON A STREAM: every event updates two
    overlapping window states across micro-batches — completes the
    streaming window family (tumbling/session/sliding all replayed and
    oracle-checked against their batch answers)."""
    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    agg = S.sliding_agg(
        stream,
        "ts",
        "1 hour",
        "30 minutes",
        aggs=[F.count(F.lit(1)).alias("n_events")],
        watermark="40 days",
    )
    out = _drain(agg.drop("win_end"), "sliding", work_dir)
    return out.orderBy("win_start")


def _curation_sql() -> str:
    from my_cudf_spark.functions.stable import sql_dec2dbl
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN, SQL_QUALITY

    return f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             {SQL_QUALITY} AS quality,
             len(string_split(trim(text), ' ')) AS n_tokens
      FROM (SELECT doc_id, source, text, length(text) AS n,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                   length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
            FROM documents)
      WHERE {SQL_QUALITY} >= {QUALITY_MIN}),
    d AS (SELECT DISTINCT source, text, quality, n_tokens FROM scored)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           {sql_dec2dbl('SUM(CAST(quality AS DECIMAL(10,6)))')} / COUNT(*) AS avg_quality
    FROM d GROUP BY source ORDER BY source
    """


@register("stream_curation_replay", sql=_curation_sql())
def stream_curation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation pipeline — the stream counterpart of
    pipeline_curation's first stages: documents arrive as micro-batches,
    quality-filter runs stateless, exact dedup carries (content-hash,
    source) state across batches, and per-source corpus accounting
    (docs / tokens / mean quality) aggregates on top — TWO chained
    stateful operators on the real streaming engine.  Every aggregated
    value is a pure function of the deduped (text, source) set, so the
    result is independent of arrival order and micro-batch boundaries and
    the batch oracle applies to the streaming execution path.  In
    production the dedup state would carry an ingest-time watermark; the
    bounded replay keeps it unbounded (all four chunks)."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN
    from my_cudf_spark.streaming.sources import replay_documents

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    scored = stream.select(
        "source",
        "text",
        T.quality_score("text").alias("quality"),
        T.count_tokens("text").cast("long").alias("n_tokens"),
    ).filter(F.col("quality") >= QUALITY_MIN)
    deduped = scored.withColumn("h", F.sha2(F.col("text"), 256)).dropDuplicates(
        ["h", "source"]
    )
    agg = deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    )
    out = _drain(agg, "curation", work_dir)
    return out.orderBy("source")


@register(
    "stream_topk_replay",
    sql="""
    WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
               FROM events GROUP BY 1, 2),
    t AS (SELECT user_id, COUNT(*) AS n_seen FROM events GROUP BY 1),
    r AS (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY n DESC, event_type) AS rk
          FROM c)
    SELECT r.user_id, CAST(rk AS INTEGER) AS "rank", event_type,
           CAST(n AS BIGINT) AS n, CAST(n_seen AS BIGINT) AS n_seen
    FROM r JOIN t USING (user_id) WHERE rk <= 3
    ORDER BY user_id, "rank"
    """,
)
def stream_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user top-3 event types via the frequent-items sketch
    (streaming/stateful.heavy_hitters, Spark's native
    ``approx_top_k_accumulate`` state): bounded O(keys × capacity) sketch
    state across micro-batches — the per-entity frequency shape an
    unbounded stream cannot answer with exact per-item state.  capacity=16
    covers the fixture's distinct event types, so the sketch is exact and
    the batch groupBy + rank twin is a bit-exact oracle (the suite's
    convention for probabilistic operators: exact-by-construction on
    fixtures, documented error bound at scale); the tie order (count desc,
    event_type asc) comes from the operator's ranking, not the oracle.  The
    final snapshot per user is the emitted update carrying that user's
    maximal n_seen."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import heavy_hitters

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    tops = heavy_hitters(stream, ["user_id"], "event_type", k=3, capacity=16)
    updates = _drain(tops, "topk", work_dir, output_mode="update")
    # Latest snapshot per (user, rank) via row_number, NOT n_seen == max:
    # an equality filter keeps every row that ties on n_seen, and
    # row_number keeps exactly one per rank.
    w = Window.partitionBy("user_id", "rank").orderBy(
        F.desc("n_seen"), F.desc("n"), F.asc("event_type")
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "rank", "event_type", "n", "n_seen")
        .orderBy("user_id", "rank")
    )


@register(
    "stream_cdc_replay",
    sql="""
    WITH ch AS (
      SELECT o_custkey AS cust, o_orderkey AS seq,
             CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS bal
      FROM orders
    ),
    r AS (SELECT cust, seq, op, bal,
                 ROW_NUMBER() OVER (PARTITION BY cust
                                    ORDER BY seq DESC, op DESC) AS rn
          FROM ch)
    SELECT cust, seq, (op = 'D') AS is_deleted, bal
    FROM r WHERE rn = 1 ORDER BY cust
    """,
)
def stream_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC compaction (stateful.latest_state — the stream twin
    of operators/cdc.apply_changelog): the synthetic per-customer balance
    changelog of cdc_apply_changelog replayed as 4 micro-batches; per-key
    state is ONE native max_by buffer over (seq, op) — max-seq wins across
    batch boundaries, arrival-order independent — and the final snapshot carries
    tombstones as ``is_deleted`` so a downstream MERGE sink
    (cdc.merge_upsert, delete_col="is_deleted") can apply upserts and
    deletes alike.  State O(distinct keys), same bound as streaming
    dedup."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.sources import replay_table
    from my_cudf_spark.streaming.stateful import latest_state

    stream, work_dir = replay_table(spark, sf_dir, "orders", "o_orderkey")
    ch = stream.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 97 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("bal"),
    )
    updates = _drain(
        latest_state(ch, ["cust"], "seq", "op", ["bal"]),
        "cdc",
        work_dir,
        output_mode="update",
    )
    # final snapshot per key = the update with the highest seq
    w = Window.partitionBy("cust").orderBy(F.desc("seq"))
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("cust", "seq", "is_deleted", "bal")
        .orderBy("cust")
    )


@register(
    "stream_cdc_merge_replay",
    sql="""
    WITH ch AS (
      SELECT o_custkey AS cust, o_orderkey AS seq,
             CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS bal
      FROM orders
    ),
    r AS (SELECT cust, seq, op, bal,
                 ROW_NUMBER() OVER (PARTITION BY cust
                                    ORDER BY seq DESC, op DESC) AS rn
          FROM ch),
    snap AS (SELECT cust, (op = 'D') AS del, bal FROM r WHERE rn = 1),
    upd AS (SELECT t.c_custkey, t.c_name,
                   CASE WHEN s.cust IS NOT NULL THEN s.bal
                        ELSE t.c_acctbal END AS c_acctbal
            FROM customer t LEFT JOIN snap s ON t.c_custkey = s.cust
            WHERE NOT COALESCE(s.del, FALSE)),
    ins AS (SELECT s.cust AS c_custkey, CAST(NULL AS VARCHAR) AS c_name,
                   s.bal AS c_acctbal
            FROM snap s LEFT JOIN customer t ON t.c_custkey = s.cust
            WHERE t.c_custkey IS NULL AND NOT s.del)
    SELECT * FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    ORDER BY c_custkey
    """,
)
def stream_cdc_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming lakehouse apply: the orders changelog replayed
    as micro-batches → native keep-latest compaction
    (stateful.latest_state) → final snapshot MERGEd into the ``customer``
    dimension (cdc.merge_upsert, tombstones as deletes) — the
    stream-ingest-to-governed-table shape every CDC pipeline ends in,
    composed entirely from this repo's operators.  The oracle replays
    compaction + MERGE in SQL; the target payload is still never
    shuffled (the MERGE legs join the batch-sized snapshot)."""
    from pyspark.sql import Window

    from my_cudf_spark.operators.cdc import merge_upsert
    from my_cudf_spark.sources import load_table as _lt
    from my_cudf_spark.streaming.sources import replay_table
    from my_cudf_spark.streaming.stateful import latest_state

    stream, work_dir = replay_table(spark, sf_dir, "orders", "o_orderkey")
    ch = stream.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 97 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("bal"),
    )
    updates = _drain(
        latest_state(ch, ["cust"], "seq", "op", ["bal"]),
        "cdcm",
        work_dir,
        output_mode="update",
    )
    w = Window.partitionBy("cust").orderBy(F.desc("seq"))
    snap = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("cust").alias("c_custkey"),
            F.col("bal").alias("c_acctbal"),
            "is_deleted",
        )
    )
    merged = merge_upsert(
        _lt(spark, sf_dir, "customer"),
        snap,
        keys=["c_custkey"],
        update_cols=["c_acctbal"],
        delete_col="is_deleted",
    )
    return merged.select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")


@register(
    "stream_quantile_replay",
    sql="""
    SELECT event_type,
           ROUND(QUANTILE_CONT(value, 0.5), 6) AS exact_p50,
           ROUND(QUANTILE_CONT(value, 0.9), 6) AS exact_p90,
           TRUE AS p50_within_rank_bound,
           TRUE AS p90_within_rank_bound
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def stream_quantile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate quantiles in native ``percentile_approx`` state
    (streaming/quantiles.quantile_digest — the stream twin of
    agg_approx_quantile, one shared plan; tdigest role per
    cpp/include/cudf/quantiles.hpp:130, cpp/include/cudf/tdigest/): a
    mergeable quantile summary per event_type in Spark's native
    aggregation state across micro-batches, emitting updated p50/p90
    estimates each batch — the latency/size-percentile-dashboard shape an
    unbounded stream cannot answer with exact state.  Checked by the
    suite's approx contract (never hash-compare an estimate): the
    driver-compared columns are the EXACT quantiles plus flags that each
    streamed estimate lies inside a ±0.02 rank window around its target —
    two orders of magnitude wider than the summary's 1e-4 rank-error bound
    and spanning many inter-point gaps at every fixture SF."""
    from pyspark.sql import Window

    from my_cudf_spark.sources import load_table as _lt
    from my_cudf_spark.streaming.quantiles import quantile_digest

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    digs = quantile_digest(stream, ["event_type"], "value", qs=[0.5, 0.9])
    updates = _drain(digs, "qdig", work_dir, output_mode="update")
    # final snapshot per key = the update carrying the maximal n_seen
    # (row_number, not an equality filter — ties must keep one row)
    w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"), F.desc("q50"))
    snap = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", "q50", "q90")
    )
    eps = 0.02
    exact = (
        _lt(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.expr(
                f"percentile(value, array({0.5 - eps}D, 0.5D, {0.5 + eps}D,"
                f" {0.9 - eps}D, 0.9D, {0.9 + eps}D))"
            ).alias("__q")
        )
    )
    return (
        snap.join(exact, "event_type")
        .select(
            "event_type",
            F.round(F.element_at("__q", 2), 6).alias("exact_p50"),
            F.round(F.element_at("__q", 5), 6).alias("exact_p90"),
            (
                (F.col("q50") >= F.element_at("__q", 1))
                & (F.col("q50") <= F.element_at("__q", 3))
            ).alias("p50_within_rank_bound"),
            (
                (F.col("q90") >= F.element_at("__q", 4))
                & (F.col("q90") <= F.element_at("__q", 6))
            ).alias("p90_within_rank_bound"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_semantic_dedup_replay",
    sql="""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) AS nn
               FROM embeddings),
    cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
                     v AS cv, nn AS cn
              FROM n QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
    ca AS (SELECT n.vec_id, n.v, n.nn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC,
                               c.cid) AS pr
           FROM n CROSS JOIN cents c),
    cells AS (SELECT vec_id, v, nn, cid FROM ca WHERE pr = 1)
    SELECT a.vec_id, CAST(a.cid AS INT) AS cell,
           NOT EXISTS (SELECT 1 FROM cells b
                       WHERE b.cid = a.cid AND b.vec_id < a.vec_id
                         AND list_dot_product(a.v, b.v)/(a.nn*b.nn) >= 0.4)
             AS keep
    FROM cells a ORDER BY a.vec_id
    """,
)
def stream_semantic_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING semantic embedding dedup (streaming/semdedup — the
    incremental twin of vec_semantic_dedup): the embeddings fixture
    replayed as 4 micro-batches, each arriving vector assigned its Voronoi
    cell by a pure Column expression (seeded centroids inlined as
    literals, streaming-legal) and judged against the cell's cross-batch
    state — dropped when a lower-id near-dup (cos ≥ 0.4) was already
    ingested, with late-arriving lower ids REVOKING earlier keeps so the
    end state is arrival-order independent and equals the plain
    within-cell EXISTS the oracle runs.  State is the cell-partitioned
    corpus (the SemDeDup layout); per-batch cost is new×seen matmul per
    touched cell."""
    from pyspark.sql import Window

    from my_cudf_spark.sources import load_table as _lt
    from my_cudf_spark.streaming.semdedup import (
        cell_assign_pandas,
        seed_centroid_rows,
        stream_semantic_dedup,
    )
    from my_cudf_spark.streaming.sources import replay_table

    as_double = lambda df: df.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    cents = seed_centroid_rows(
        as_double(_lt(spark, sf_dir, "embeddings")), "vec_id", "embedding", 16
    )
    stream, work_dir = replay_table(
        spark, sf_dir, "embeddings", "vec_id", transform=as_double
    )
    # Arrow-kernel assignment (r12): bit-identical to cell_assign_expr's
    # literal tree, without its per-call expression build + per-batch
    # planning/codegen cost (tests assert row-level equality of the two).
    s = stream.withColumn("cell", cell_assign_pandas(cents, "embedding"))
    updates = _drain(
        stream_semantic_dedup(s, "vec_id", "embedding", "cell", 0.4, buckets=8),
        "semdd",
        work_dir,
        output_mode="update",
    )
    w = Window.partitionBy("id").orderBy(F.desc("ver"))
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("id").alias("vec_id"), "cell", "keep")
        .orderBy("vec_id")
    )


@register(
    "stream_phash_replay",
    sql="""
    WITH t AS (SELECT doc_id, string_split(text, '') AS cs,
                      CAST(length(text) AS BIGINT) AS n
               FROM documents),
    u AS (SELECT doc_id, n,
                 CAST(generate_subscripts(cs, 1) - 1 AS BIGINT) AS p,
                 ord(unnest(cs)) AS v
          FROM t),
    blk AS (SELECT doc_id, CAST((p * 70) // n AS INT) AS k,
                   CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
            FROM u GROUP BY doc_id, CAST((p * 70) // n AS INT)),
    bits AS (SELECT a.doc_id,
                    CAST(SUM(CASE WHEN b.m > a.m
                        THEN 1::BIGINT << CAST((a.k // 7) * 6 + (a.k % 7) AS INT)
                        ELSE 0 END) AS BIGINT) AS sig
             FROM blk a JOIN blk b
               ON a.doc_id = b.doc_id AND b.k = a.k + 1 AND a.k % 7 < 6
             GROUP BY a.doc_id),
    s AS (SELECT t.doc_id, CAST(COALESCE(bits.sig, 0) AS BIGINT) AS sig
          FROM t LEFT JOIN bits USING (doc_id))
    SELECT a.doc_id,
           NOT EXISTS (SELECT 1 FROM s b WHERE b.doc_id < a.doc_id
                       AND bit_count(xor(a.sig, b.sig)) <= 11) AS keep
    FROM s a ORDER BY a.doc_id
    """,
)
def stream_phash_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptual-hash image dedup (streaming/phash — the
    incremental twin of mm_phash_pairs, closing the image×stream cell of
    the dedup matrix): the documents fixture replayed as 4 micro-batch
    image payloads, each batch decoded to 60-bit dHash signatures in one
    Arrow-batched mapInPandas pass (multimodal.dhash_signatures — decode
    runs ON THE STREAM), then every arrival judged against cross-batch
    banded-signature state — dropped when a lower-id image within hamming
    ≤ 11 was already ingested, with late-arriving lower ids REVOKING
    earlier keeps so the end state is arrival-order independent and equals
    the plain EXISTS over brute-forced pairs the oracle runs.  State is a
    distributed inverted band index (12 bands × 5 bits, the
    mm_phash_pairs geometry) in hash(band)%8 bucketed state rows; each
    image's per-bucket verdicts fold with bool_and."""
    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.streaming.phash import stream_phash_dedup
    from my_cudf_spark.streaming.sources import replay_documents

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    sigs = M.dhash_signatures(M.attach_payload(stream), "doc_id")
    verdicts = stream_phash_dedup(
        sigs, "doc_id", "sig", max_hamming=11, sig_bits=60, buckets=8
    )
    updates = _drain(verdicts, "phash", work_dir, output_mode="update")
    return (
        updates.groupBy("id")
        .agg(F.bool_and("keep").alias("keep"))
        .select(F.col("id").alias("doc_id"), "keep")
        .orderBy("doc_id")
    )



# Streaming audio-dedup minhash parameters: 24 affine lanes (fixed seeded
# draws shared verbatim with the SQL oracle), banded 6×4, candidates
# verified at ≥ 17/24 matching lanes (≈ Jaccard 0.7 estimator — the
# dedup_minhash_lsh estimator-as-contract convention on a stream).
import random as _add_random

_ADD_RNG = _add_random.Random(77)
_ADD_BANDS, _ADD_ROWS, _ADD_MINMATCH = 6, 4, 17
_ADD_NLANES = _ADD_BANDS * _ADD_ROWS
# 31-bit coefficients: the 28-bit token hash keeps every lane product in
# BIGINT on both engines (see streaming/minhashdd.attach_minhash)
_ADD_A = [_ADD_RNG.randrange(1, (1 << 31) - 1) for _ in range(_ADD_NLANES)]
_ADD_B = [_ADD_RNG.randrange(0, (1 << 31) - 1) for _ in range(_ADD_NLANES)]


def _audio_lsh_sql() -> str:
    from my_cudf_spark.queries.multimodal_queries import AUDIO_LM_SQL

    lanes = ",\n           ".join(
        f"MIN((hv * {a} + {b}) % 2147483647) AS m{i}"
        for i, (a, b) in enumerate(zip(_ADD_A, _ADD_B))
    )
    band_or = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{j * _ADD_ROWS + r} = b.m{j * _ADD_ROWS + r}"
            for r in range(_ADD_ROWS)
        )
        + ")"
        for j in range(_ADD_BANDS)
    )
    agree = " + ".join(
        f"(a.m{i} = b.m{i})::INT" for i in range(_ADD_NLANES)
    )
    return f"""
    WITH {AUDIO_LM_SQL},
    h AS (SELECT doc_id, ('0x' || substr(md5(lm), 1, 7))::BIGINT AS hv FROM tok),
    sig AS (SELECT doc_id,
           {lanes}
           FROM h GROUP BY doc_id)
    SELECT a.doc_id,
           NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < a.doc_id
                       AND ({band_or})
                       AND ({agree}) >= {_ADD_MINMATCH}) AS keep
    FROM sig a ORDER BY a.doc_id
    """


@register("stream_audio_dedup_replay", sql=_audio_lsh_sql())
def stream_audio_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING audio fingerprint dedup via MinHash-LSH
    (streaming/minhashdd — closing the audio×stream cell of the dedup
    matrix with BOUNDED per-clip state): documents replayed as 4
    micro-batch audio payloads, spectral landmarks extracted on the
    stream (multimodal.audio_landmarks), each clip sketched into a
    24-lane affine minhash signature by pure Column exprs
    (streaming-legal, BIGINT-safe 31-bit lane scheme — see
    minhashdd.attach_minhash), and judged against cross-batch LSH
    bucket state — dropped when a lower-id clip collides in ≥ 1 of 6
    bands AND agrees on ≥ 17/24 lanes, with late lower ids REVOKING
    earlier keeps.  Every quantity is deterministic given the seeded lane
    parameters, so the oracle recomputes band collisions and
    lane-agreement counts bit-for-bit.  An exact-Jaccard streaming dedup
    was built and REJECTED for this corpus: structurally hot landmark
    tokens make any inverted-index scheme enumerate 2.8M co-token pairs
    at sf0.1; the LSH sketch keeps state at ~200 bytes/clip and
    candidate work ∝ band collisions."""
    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.streaming.minhashdd import attach_minhash, stream_lsh_dedup
    from my_cudf_spark.streaming.sources import replay_documents

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    lms = M.audio_landmarks(M.attach_payload(stream), "doc_id")
    sigged = attach_minhash(lms, "lms", _ADD_A, _ADD_B)
    verdicts = stream_lsh_dedup(
        sigged,
        "doc_id",
        "sig",
        bands=_ADD_BANDS,
        rows=_ADD_ROWS,
        min_matches=_ADD_MINMATCH,
        buckets=8,
    )
    updates = _drain(verdicts, "audiodd", work_dir, output_mode="update")
    return (
        updates.groupBy("id")
        .agg(F.bool_and("keep").alias("keep"))
        .select(F.col("id").alias("doc_id"), "keep")
        .orderBy("doc_id")
    )


def _video_lsh_sql() -> str:
    lanes = ",\n           ".join(
        f"MIN((hv * {a} + {b}) % 2147483647) AS m{i}"
        for i, (a, b) in enumerate(zip(_ADD_A, _ADD_B))
    )
    band_or = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{j * _ADD_ROWS + r} = b.m{j * _ADD_ROWS + r}"
            for r in range(_ADD_ROWS)
        )
        + ")"
        for j in range(_ADD_BANDS)
    )
    agree = " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(_ADD_NLANES))
    return f"""
    WITH t AS (SELECT doc_id, text, length(text) // 16 AS nf FROM documents),
    f AS (SELECT doc_id, j - 1 AS fidx, md5(substr(text, (j-1)*16 + 1, 16)) AS fsig
          FROM t, unnest(range(1, nf + 1)) AS r(j) WHERE nf >= 2),
    tok AS (SELECT a.doc_id, a.fsig || '|' || b.fsig AS lm
            FROM f a JOIN f b ON a.doc_id = b.doc_id AND b.fidx = a.fidx + 1),
    h AS (SELECT doc_id, ('0x' || substr(md5(lm), 1, 7))::BIGINT AS hv FROM tok),
    sig AS (SELECT doc_id,
           {lanes}
           FROM h GROUP BY doc_id)
    SELECT a.doc_id,
           NOT EXISTS (SELECT 1 FROM sig b WHERE b.doc_id < a.doc_id
                       AND ({band_or})
                       AND ({agree}) >= {_ADD_MINMATCH}) AS keep
    FROM sig a ORDER BY a.doc_id
    """


@register("stream_video_dedup_replay", sql=_video_lsh_sql())
def stream_video_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING video dedup via MinHash-LSH over frame-pair shingles
    (closing the video×stream cell of the dedup matrix): documents
    replayed as 4 micro-batch video payloads, per-frame md5 signatures
    extracted on the stream (multimodal.video_frame_signatures), adjacent
    frames shingled into tokens (functions.text.word_ngrams n=2 over the
    signature sequence — temporal structure enters the token), each clip
    sketched into the same bounded 24-lane signature and judged against
    the cross-batch LSH bucket state as the audio twin.  One streaming
    operator (streaming/minhashdd.stream_lsh_dedup), three modalities of
    tokenizer: the batch/stream split lives entirely in the tokenizer +
    sketch layer."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.streaming.minhashdd import attach_minhash, stream_lsh_dedup
    from my_cudf_spark.streaming.sources import replay_documents

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    sigs = M.video_frame_signatures(M.attach_payload(stream), "doc_id")
    toks = sigs.withColumn("lms", T.word_ngrams(F.col("fsigs"), 2, sep="|"))
    sigged = attach_minhash(toks, "lms", _ADD_A, _ADD_B)
    verdicts = stream_lsh_dedup(
        sigged,
        "doc_id",
        "sig",
        bands=_ADD_BANDS,
        rows=_ADD_ROWS,
        min_matches=_ADD_MINMATCH,
        buckets=8,
    )
    updates = _drain(verdicts, "videodd", work_dir, output_mode="update")
    return (
        updates.groupBy("id")
        .agg(F.bool_and("keep").alias("keep"))
        .select(F.col("id").alias("doc_id"), "keep")
        .orderBy("doc_id")
    )


@register(
    "stream_reservoir_replay",
    sql="""
    WITH q AS (SELECT event_type, event_id, value FROM events
               WHERE value IS NOT NULL AND value > 0),
    s AS (SELECT event_type, event_id,
            -ln((CAST(('0x' || substr(md5('res|' || CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                / CAST(4503599627370497 AS DOUBLE)) / value AS prio
          FROM q),
    t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen FROM q GROUP BY 1),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY prio, event_id) AS rank FROM s)
    SELECT r.event_type, CAST(rank AS INT) AS "rank", event_id AS item,
           ROUND(prio, 9) AS priority, n_seen
    FROM r JOIN t USING (event_type) WHERE rank <= 5
    ORDER BY event_type, "rank"
    """,
)
def stream_reservoir_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming weighted reservoir sampling, bucketed (streaming/reservoir.py):
    a value-weighted 5-row sample per event_type maintained ACROSS
    micro-batches in O(keys × k) state, held per ``hash(keys) % 8`` bucket
    by the Python-state kernel (streaming/pystate.py) — the incremental
    form of sample_weighted's Efraimidis–Spirakis draw.  Exact, not approximate:
    'k smallest content-keyed priorities' is an order-independent fold,
    so the final reservoir equals the batch draw over the whole fixture
    and the plain batch SQL is a bit-exact oracle.  The final snapshot
    per (key, rank) is the update carrying that key's maximal n_seen
    (strictly increasing per emission — only qualifying rows trigger
    one)."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.reservoir import weighted_reservoir

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    res = weighted_reservoir(stream, ["event_type"], "event_id", "value", k=5)
    updates = _drain(res, "reservoir", work_dir, output_mode="update")
    w = Window.partitionBy("event_type", "rank").orderBy(
        F.desc("n_seen"), F.asc("priority"), F.asc("item")
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            "rank",
            "item",
            F.round("priority", 9).alias("priority"),
            "n_seen",
        )
        .orderBy("event_type", "rank")
    )


def _curation_model_sql() -> str:
    """The stream_curation_replay oracle with the trained-classifier stage
    spliced in (same fragments as text_quality_model / the batch
    pipeline_curation_model oracle): heuristic filter → logit > 0 →
    distinct (source, text) set → per-source accounting."""
    from my_cudf_spark.functions.stable import sql_dec2dbl
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN, SQL_QUALITY
    from my_cudf_spark.queries.text_queries import (
        _QM_BIAS_MICRO,
        _QM_NBUCKETS,
        _QM_W_SQL,
        SQL_NORM,
    )

    return f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             {SQL_QUALITY} AS quality,
             len(string_split(trim(text), ' ')) AS n_tokens
      FROM (SELECT doc_id, source, text, length(text) AS n,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                   length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
            FROM documents)
      WHERE {SQL_QUALITY} >= {QUALITY_MIN}),
    feats AS (
      SELECT doc_id,
             list_concat(toks, list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i+1])) AS feats
      FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM scored)),
    modeled AS (
      SELECT s.source, s.text, s.quality, s.n_tokens
      FROM scored s JOIN feats f USING (doc_id)
      WHERE len(f.feats) > 0
        AND list_sum(list_transform(f.feats,
              g -> ({_QM_W_SQL})[(('0x' || substr(md5(g), 1, 15))::BIGINT % {_QM_NBUCKETS}) + 1]))::DOUBLE
            / 1000000.0 / len(f.feats) + ({_QM_BIAS_MICRO}::DOUBLE / 1000000.0) > 0),
    d AS (SELECT DISTINCT source, text, quality, n_tokens FROM modeled)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           {sql_dec2dbl('SUM(CAST(quality AS DECIMAL(10,6)))')} / COUNT(*) AS avg_quality
    FROM d GROUP BY source ORDER BY source
    """


@register("stream_curation_model_replay", sql=_curation_model_sql())
def stream_curation_model_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-scored curation pipeline ON A STREAM — the streaming twin
    of pipeline_curation_model, completing the batch/stream symmetry for
    the flagship with its trained-classifier stage: heuristic quality
    filter and hashed-linear-classifier logit run stateless per
    micro-batch (pure Column exprs — streaming-legal by construction),
    exact dedup carries (content-hash, source) state across batches, and
    the per-source accounting aggregates on top (two chained stateful
    operators, as stream_curation_replay).  Every output value is a pure
    function of the final distinct (text, source) survivor set, so the
    result is arrival-order/micro-batch independent and the batch oracle
    applies to the streaming path.

    Plan note: the logit FILTER sits ABOVE the dedup boundary while the
    logit PROJECTION sits below it — Catalyst pushes a filter predicate
    through projections by substitution (which would inline the
    normalize+split chain into the per-element feature lambda, the
    pipeline_curation_model 17s-vs-3s lesson; batch uses a persist
    barrier, streams cannot persist), but it will not push a non-key
    predicate through a streaming Deduplicate — so the stateful dedup
    doubles as the projection barrier and the classifier stays a one-pass
    projection."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators.dedup import md5_hash60
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN
    from my_cudf_spark.queries.text_queries import (
        _QM_BIAS_MICRO,
        _QM_WEIGHTS,
        _norm_tokens,
    )
    from my_cudf_spark.streaming.sources import replay_documents

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    scored = stream.select(
        "source",
        "text",
        T.quality_score("text").alias("quality"),
        T.count_tokens("text").cast("long").alias("n_tokens"),
    ).filter(F.col("quality") >= QUALITY_MIN)
    feat = scored.withColumn("toks", _norm_tokens()).withColumn(
        "feats", T.classifier_features(F.col("toks"), max_n=2)
    )
    logit = feat.withColumn(
        "__logit",
        T.classifier_logit(
            F.col("feats"), _QM_WEIGHTS, _QM_BIAS_MICRO, hash_expr=md5_hash60
        ),
    ).drop("toks", "feats")
    deduped = logit.withColumn("h", F.sha2(F.col("text"), 256)).dropDuplicates(
        ["h", "source"]
    )
    modeled = deduped.filter(F.col("__logit") > 0)
    agg = modeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (
            F.sum(F.col("quality").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    )
    out = _drain(agg, "curation_model", work_dir)
    return out.orderBy("source")


# Streaming substring-passage dedup parameters: 12-token passages (the
# dedup_substring_spans min_len), posting-rank cap 8 (the online df-cap —
# both the state bound and part of the keep-rule contract the oracle
# replicates).
_SUB_LEN, _SUB_MAXDF = 12, 8


def _substring_replay_sql() -> str:
    from my_cudf_spark.queries.text_queries import SQL_NORM

    return f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    s AS (SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(array_to_string(toks[i:i+{_SUB_LEN - 1}], chr(31))), 1, 15))::BIGINT AS h
          FROM t, unnest(range(1, len(toks) - {_SUB_LEN - 2})) AS r(i)
          WHERE len(toks) >= {_SUB_LEN}),
    r AS (SELECT doc_id, h,
                 ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rk
          FROM s),
    d AS (SELECT DISTINCT b.doc_id FROM r b
          JOIN r a ON a.h = b.h AND a.doc_id < b.doc_id
          WHERE b.rk <= {_SUB_MAXDF})
    SELECT t.doc_id, t.doc_id NOT IN (SELECT doc_id FROM d) AS keep
    FROM t ORDER BY t.doc_id
    """


@register("stream_substring_replay", sql=_substring_replay_sql())
def stream_substring_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact substring-passage dedup (streaming/substring — the
    incremental leg of dedup_substring_spans, extending the span flavor to
    a corpus arriving as micro-batches): documents replayed as 4
    id-ordered chunks; each arrival's DISTINCT 12-token positional shingle
    hashes (the identical md5 formula as the batch operator, computed
    JVM-side on the stream) are routed to a hash(h)%8-bucketed inverted
    posting index held as cross-batch state; a document is dropped when a
    lower-id document already holds one of its shingles under the
    posting-rank cap (r(h, b) <= 8 — the online df-cap that is also the
    state bound), with late lower ids REVOKING earlier keeps.  Per-bucket
    verdicts fold with bool_and; shingle-less documents (< 12 tokens or
    NULL text) default to keep.  The oracle replicates the posting-rank
    keep rule exactly."""
    from my_cudf_spark.queries.text_queries import _norm_tokens
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.sources import replay_documents
    from my_cudf_spark.streaming.substring import stream_substring_dedup

    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)
    toked = stream.withColumn("toks", _norm_tokens())
    verdicts = stream_substring_dedup(
        toked, "doc_id", "toks", min_len=_SUB_LEN, max_df=_SUB_MAXDF, buckets=8
    )
    updates = _drain(verdicts, "substr", work_dir, output_mode="update")
    folded = updates.groupBy("id").agg(F.bool_and("keep").alias("__keep"))
    # documents with no qualifying shingle never reach the state operator
    # and default to keep = true
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        all_docs.join(folded, all_docs["doc_id"] == folded["id"], "left")
        .select("doc_id", F.coalesce("__keep", F.lit(True)).alias("keep"))
        .orderBy("doc_id")
    )


@register(
    "stream_pit_replay",
    sql="""
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
                FROM events),
         p AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'view'),
         c AS (SELECT user_id, ts, value,
                      COUNT(*) OVER (PARTITION BY user_id ORDER BY ts) AS n
               FROM ev WHERE event_type = 'click'),
         s AS (SELECT user_id, ts,
                      COUNT(*) OVER (PARTITION BY user_id ORDER BY ts) AS n
               FROM ev WHERE event_type = 'signup')
    SELECT p.event_id,
           v.value AS view_value,
           c.value AS click_value,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_signups
    FROM p
    ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    ORDER BY p.event_id
    """,
)
def stream_pit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING point-in-time enrichment (streaming/pit.py — the stream
    twin of join_pit_multi): the events fixture replayed as 4 micro-
    batches of interleaved purchases and view/click/signup history; every
    batch that touches a user re-emits that user's purchases enriched
    over the full feature history seen so far with a per-user monotone
    version, so the max-version emission per purchase equals the batch
    PIT join over complete history — arrival-order independent by
    CORRECTION, the revocation idea applied to values (a late-arriving
    feature with an earlier event time retroactively fixes the earlier
    emission).  State per user = its spine + requested feature rows
    (watermark compaction is the production bound — see module doc);
    enrichment is vectorized numpy searchsorted inside the Arrow batch.
    Oracle: the same three chained DuckDB ASOF LEFT JOINs that prove the
    batch leg."""
    from my_cudf_spark.streaming.pit import stream_pit_enrich

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    enriched = stream_pit_enrich(
        stream,
        key_col="user_id",
        ts_col="ts",
        kind_col="event_type",
        id_col="event_id",
        value_col="value",
        spine_kind="purchase",
        value_kinds=["view", "click"],
        count_kinds=["click", "signup"],
    )
    updates = _drain(enriched, "pit", work_dir, output_mode="update")
    final = updates.groupBy("event_id").agg(
        F.max_by(
            F.struct("view_value", "click_value", "n_click", "n_signup"),
            "version",
        ).alias("s")
    )
    return final.select(
        "event_id",
        F.col("s.view_value").alias("view_value"),
        F.col("s.click_value").alias("click_value"),
        F.col("s.n_click").alias("n_clicks"),
        F.col("s.n_signup").alias("n_signups"),
    ).orderBy("event_id")


from my_cudf_spark.queries.text_queries import SQL_BLOOM_CONTAM  # noqa: E402


@register(
    "stream_decontam_replay",
    # Oracle shared verbatim with text_contamination_bloom: the streamed
    # final snapshot is order-independent, so the batch SQL IS the check.
    sql=SQL_BLOOM_CONTAM,
)
def stream_decontam_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Bloom decontamination (streaming/decontam — the stream
    twin of text_contamination_bloom): the documents fixture replayed as
    4 micro-batches with the 5% hash slice playing an eval set that
    arrives INTERLEAVED with the training corpus; every train doc's
    trigram probes are judged against the Bloom-bitmap state of every
    bench gram ever seen, with late bench arrivals flipping earlier
    misses to hits (bits are monotone, so the bool_or-folded snapshot is
    arrival-order independent and equals the batch answer, so the batch
    SQL oracle checks the streaming execution path)."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.decontam import stream_bloom_decontam
    from my_cudf_spark.streaming.sources import replay_documents

    th = _threshold_hex(0.05)
    stream, work_dir = replay_documents(spark, sf_dir, num_chunks=4)

    def grams_of(df: DataFrame) -> DataFrame:
        # Materialize toks as its own projection: inlining the split into
        # word_ngrams' transform lambda re-evaluates it PER GRAM (the
        # documented ~15x gram-generation trap).  NOTE deliberately no
        # ``size(grams) > 0`` filter here (r12): a filter referencing the
        # computed grams column gets pushed below the projection with the
        # whole gram pipeline INLINED (4.7 s vs 0.2 s measured on the
        # fixture corpus) — gram-less docs are harmless on the stream side
        # (they emit no probes) and the batch side filters AFTER its
        # persist barrier where size() reads the cached column.
        t = df.select(
            "doc_id", F.split(T.normalize_text("text"), " ").alias("toks")
        )
        return t.select(
            "doc_id",
            F.array_distinct(T.word_ngrams(F.col("toks"), 3)).alias("grams"),
            (hash_bucket(["doc_id"]) < th).alias("is_bench"),
        )

    verdicts = stream_bloom_decontam(
        grams_of(stream), "doc_id", "grams", "is_bench", buckets=8
    )
    updates = _drain(verdicts, "bloomdc", work_dir, output_mode="update")
    from my_cudf_spark.operators.dedup import _persist
    from my_cudf_spark.streaming.decontam import gram_id

    # Per-distinct-gram verdict fold; doc attribution is a batch join of
    # the (doc, gram) frame against the vocabulary-sized verdict table.
    per_gram = (
        updates.groupBy("gram", "j")
        .agg(F.bool_or("hit").alias("hit"))
        .groupBy("gram")
        .agg(F.bool_and("hit").alias("g_in"))
    )
    base = _persist(
        grams_of(load_table(spark, sf_dir, "documents")).filter(
            ~F.col("is_bench")
        )
    ).filter(F.size("grams") > 0)
    docgrams = base.select("doc_id", F.explode("grams").alias("g")).select(
        "doc_id", gram_id("g").alias("gram")
    )
    per_doc = (
        docgrams.join(per_gram, "gram")
        .groupBy("doc_id")
        .agg(F.sum(F.col("g_in").cast("long")).alias("n_overlap"))
    )
    return (
        base.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(per_doc, "doc_id")
        .withColumn("ratio", F.round(F.col("n_overlap") / F.col("n_grams"), 6))
        .withColumn(
            "contaminated", F.col("n_overlap") / F.col("n_grams") >= F.lit(0.2)
        )
        .select("doc_id", "n_grams", "n_overlap", "ratio", "contaminated")
        .orderBy("doc_id")
    )


@register(
    "stream_cluster_stats_replay",
    sql="""
    WITH p AS (SELECT b.b AS b, d.d AS d,
                      CASE WHEN substr(md5('0|' || b.b || '|' || d.d), 1, 1) >= '8'
                           THEN 1.0 ELSE -1.0 END AS w
               FROM range(4) b(b) CROSS JOIN range(64) d(d)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ed AS (SELECT vec_id, d.d AS d, v[d.d + 1] AS x FROM e CROSS JOIN range(64) d(d)),
    dots AS (SELECT ed.vec_id, p.b, SUM(ed.x * p.w) AS s
             FROM ed JOIN p USING (d) GROUP BY 1, 2),
    sigs AS (SELECT vec_id,
                    CAST(SUM(CASE WHEN ROUND(s, 9) > 0 THEN (1 << b) ELSE 0 END)
                         AS INT) AS cell
             FROM dots GROUP BY 1),
    nano AS (SELECT s.cell, CAST(d.d AS INT) AS d,
                    CAST(ROUND(e.v[d.d + 1] * 1000000000.0) AS BIGINT) AS nx
             FROM sigs s JOIN e USING (vec_id) CROSS JOIN range(64) d(d))
    SELECT cell, d, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(nx) AS DOUBLE) / (COUNT(*) * 1000000000.0) AS mean
    FROM nano GROUP BY cell, d ORDER BY cell, d
    """,
)
def stream_cluster_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cluster sufficient statistics (streaming/kmeans — the
    incremental Lloyd M-step / IVF re-centering pass, closing the
    clustering×stream cell): the embeddings fixture replayed as 4
    micro-batches, each vector assigned to its data-independent md5-plane
    sign-bit cell (the vec_topk_lsh partition), per-cell (count, per-dim
    nano-unit sum) accumulating as cross-batch state.  Integer sums
    commute, so the drained final state is chunking- and order-
    independent and the batch twin (this SQL) reproduces every cell mean
    bit-for-bit."""
    from my_cudf_spark.streaming.kmeans import stream_cluster_stats
    from my_cudf_spark.streaming.sources import replay_table

    stream, work_dir = replay_table(
        spark, sf_dir, "embeddings", "vec_id", num_chunks=4
    )
    emb = stream.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    snaps = stream_cluster_stats(emb, "vec_id", "embedding", dim=64, bits=4)
    updates = _drain(snaps, "ckstats", work_dir, output_mode="update")
    final = updates.groupBy("cell").agg(
        F.max_by("sums", "n").alias("sums"), F.max("n").alias("n")
    )
    return (
        final.select("cell", "n", F.posexplode("sums").alias("d", "snano"))
        .select(
            "cell",
            F.col("d").cast("int").alias("d"),
            "n",
            # Raw IEEE division of exact integers — identical bit pattern
            # on both engines; ROUND here would reintroduce a half-way
            # boundary that the two engines' double-round can disagree on.
            (F.col("snano").cast("double") / (F.col("n") * F.lit(1e9))).alias(
                "mean"
            ),
        )
        .orderBy("cell", "d")
    )


from my_cudf_spark.queries.event_queries import SQL_FUNNEL_ORDERED  # noqa: E402


@register(
    "stream_funnel_replay",
    # Oracle shared verbatim with events_funnel_ordered: the streamed
    # max-version snapshot is a pure function of the final event set.
    sql=SQL_FUNNEL_ORDERED,
)
def stream_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING strict-order funnel (streaming/funnel — the stream twin
    of events_funnel_ordered): the events fixture replayed as 4
    micro-batches, per-user funnel progression maintained as bucketed
    cross-batch state with LATE events recomputing the greedy fold over
    retained history (monotone emission versions ⇒ the max-version
    snapshot is chunking/order independent and equals the batch fold —
    one SQL oracle covers both legs).  The final stage→counts reduction
    is a 4-row aggregate.

    PRODUCTION NOTE: this bounded replay runs with the default
    ``seal_lag=None``, which retains full per-entity history — exact,
    but unbounded on an endless stream.  A production deployment should
    always pass ``seal_lag`` (the funnel's watermark analogue,
    streaming/funnel.py:23-29): events older than max-seen-time minus
    the lag compact into a per-user (stage, since, count) base, bounding
    state while staying exact for any lateness within the lag.  The
    sealed path is exercised in tests/test_streaming.py."""
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.funnel import stream_funnel

    stream, work_dir = replay_events(spark, sf_dir, num_chunks=4)
    verdicts = stream_funnel(
        stream, "user_id", "ts", "event_id", "event_type",
        steps=("view", "click", "purchase"), buckets=8,
    )
    updates = _drain(verdicts, "funnel", work_dir, output_mode="update")
    per_user = updates.groupBy("user").agg(
        F.max_by("stage", "version").alias("stage")
    )
    total = (
        load_table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("total"))
    )
    tot = per_user.crossJoin(F.broadcast(total)).agg(
        F.min("total").alias("total"),
        F.sum((F.col("stage") >= 1).cast("long")).alias("s1"),
        F.sum((F.col("stage") >= 2).cast("long")).alias("s2"),
        F.sum((F.col("stage") >= 3).cast("long")).alias("s3"),
    )
    out = tot.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.col("s1").alias("n_reached")),
                F.struct(F.lit(2).alias("stage"), F.col("s2").alias("n_reached")),
                F.struct(F.lit(3).alias("stage"), F.col("s3").alias("n_reached")),
            )
        ).alias("r"),
        "total",
    )
    return out.select(
        F.col("r.stage").alias("stage"),
        F.col("r.n_reached").alias("n_reached"),
        (F.col("r.n_reached").cast("double") / F.col("total")).alias("conv_rate"),
    ).orderBy("stage")


@register(
    "stream_ivm_replay",
    sql="""
    WITH f AS (SELECT o_custkey AS cust, o_orderkey AS id,
                      CAST(o_totalprice AS DECIMAL(28,2)) AS v
               FROM orders),
    base AS (SELECT * FROM f WHERE id % 7 <> 0),
    kept AS (SELECT cust, v FROM base
             WHERE id % 5 <> 0 AND NOT (id % 11 = 0)),
    upd AS (SELECT cust, v + CAST(10.0 AS DECIMAL(28,2)) AS v
            FROM base WHERE id % 5 = 0),
    ins AS (SELECT cust, v FROM f WHERE id % 7 = 0),
    facts AS (SELECT * FROM kept UNION ALL SELECT * FROM upd
              UNION ALL SELECT * FROM ins)
    SELECT cust, CAST(SUM(v) * 100 AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM facts GROUP BY cust ORDER BY cust
    """,
)
def stream_ivm_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance (stateful.
    incremental_agg_totals — the stream twin of cdc_incremental_agg):
    the orders table replayed as 4 micro-batches, each arriving order
    exploded into its CDC delta events (insert +v/+1 always; every 5th
    surviving order an update +10/0; every 11th of the rest a delete
    −v/−1) with currency scaled to integer cents — per-customer (sum,
    count) state folds exact int64 deltas, so the max-version snapshot
    equals the from-scratch recompute (this oracle) under any chunking
    or arrival order."""
    from my_cudf_spark.streaming.sources import replay_table
    from my_cudf_spark.streaming.stateful import incremental_agg_totals

    stream, work_dir = replay_table(spark, sf_dir, "orders", "o_orderkey", num_chunks=4)
    v = F.col("o_totalprice").cast("decimal(28,2)")
    cents = (v * 100).cast("long")
    is_base = F.col("o_orderkey") % 7 != 0
    ev = F.array_compact(
        F.array(
            # the fact itself arriving (insert)
            F.struct(cents.alias("ds"), F.lit(1).cast("long").alias("dn")),
            # update leg: every 5th base order's price +10
            F.when(
                is_base & (F.col("o_orderkey") % 5 == 0),
                F.struct(F.lit(1000).cast("long").alias("ds"),
                         F.lit(0).cast("long").alias("dn")),
            ),
            # delete leg: every 11th of the remaining base orders
            F.when(
                is_base
                & (F.col("o_orderkey") % 5 != 0)
                & (F.col("o_orderkey") % 11 == 0),
                F.struct((-cents).alias("ds"), F.lit(-1).cast("long").alias("dn")),
            ),
        )
    )
    deltas = stream.select(
        F.col("o_custkey").alias("cust"), F.explode(ev).alias("e")
    ).select("cust", F.col("e.ds").alias("ds"), F.col("e.dn").alias("dn"))
    snaps = incremental_agg_totals(deltas, "cust", "ds", "dn")
    updates = _drain(snaps, "ivm", work_dir, output_mode="update")
    final = updates.groupBy("key").agg(
        F.max_by("total", "version").alias("total_cents"),
        F.max_by("n", "version").alias("n"),
    )
    return (
        final.filter(F.col("n") > 0)
        .select(F.col("key").alias("cust"), "total_cents", "n")
        .orderBy("cust")
    )


@register(
    "stream_ann_index_replay",
    sql="""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
               FROM embeddings),
    cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv, nn AS cn
              FROM n QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
    ca AS (SELECT n.vec_id AS neighbor_id, n.v, n.nn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c),
    buckets AS (SELECT neighbor_id, v, nn, cid FROM ca WHERE pr = 1),
    qa AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nn AS qn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c WHERE n.vec_id < 5),
    probes AS (SELECT query_id, qv, qn, cid FROM qa WHERE pr <= 4),
    s AS (SELECT p.query_id, b.neighbor_id,
                 list_dot_product(p.qv, b.v)/(p.qn*b.nn) AS cos
          FROM probes p JOIN buckets b USING (cid)
          WHERE b.neighbor_id <> p.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS rank FROM s)
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def stream_ann_index_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF index maintenance (streaming/annindex.py): the
    embeddings fixture replayed as 4 micro-batches against a FROZEN
    coarse quantizer (the 16 lowest-id vectors — similarity's seeded
    centroids, inlined as Column literals so assignment is a pure
    projection legal on a stream and bit-identical to the batch rule),
    per-cell posting lists accumulating as cross-batch state.  The
    drained index joins vectors back from the lake table by id and a
    4-probe top-5 search runs against it — equal to batch ivf_topk over
    the full corpus, which is this oracle (the vec_topk_ivf SQL
    verbatim): the stream-maintained inverted file IS the batch index."""
    from pyspark.sql import Window

    from my_cudf_spark.operators.similarity import (
        _assign_nearest,
        _seed_centroids,
        dot,
        l2_norm,
    )
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.annindex import stream_ann_index
    from my_cudf_spark.streaming.semdedup import cell_assign_pandas, seed_centroid_rows
    from my_cudf_spark.streaming.sources import replay_table

    as_double = lambda df: df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    emb_b = as_double(load_table(spark, sf_dir, "embeddings"))
    cent_lists = seed_centroid_rows(emb_b, "vec_id", "embedding", 16)

    stream, work_dir = replay_table(
        spark, sf_dir, "embeddings", "vec_id", num_chunks=4
    )
    # Arrow-kernel assignment (r12): bit-identical to cell_assign_expr
    assigned = as_double(stream).withColumn(
        "cell", cell_assign_pandas(cent_lists, "embedding")
    )
    snaps = stream_ann_index(assigned, "vec_id", "cell", epoch=0, buckets=4)
    updates = _drain(snaps, "annidx", work_dir, output_mode="update")
    index = updates.groupBy("cell").agg(F.max_by("ids", "n").alias("ids"))
    postings = index.select(
        F.col("cell").alias("cid"), F.explode("ids").alias("neighbor_id")
    )

    c = emb_b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    buckets = postings.join(c, "neighbor_id")
    cents = _seed_centroids(c, "neighbor_id", 16)
    q = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    probes = _assign_nearest(q, cents, "query_id", 4).select(
        "query_id", "cid", F.col("__v").alias("__qv"), F.col("__n").alias("__qn")
    )
    scored = (
        buckets.join(probes, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos", dot(F.col("__qv"), F.col("__v")) / (F.col("__qn") * F.col("__n"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def _stream_pretrain_sql() -> str:
    # the batch composition IS the oracle: the streamed pipeline's drained
    # state equals pipeline_pretrain_bestfit's output exactly (keep-min
    # dedup + the shared pack arithmetic are chunking-independent)
    from my_cudf_spark.queries.pipeline_queries import _pretrain_bestfit_sql

    return _pretrain_bestfit_sql()


@register("stream_pretrain_replay", sql=_stream_pretrain_sql())
def stream_pretrain_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining flagship AS A CONTINUOUS PIPELINE — the streaming
    twin of pipeline_pretrain_bestfit, every stage either stateless or a
    bounded-state carrier (streaming/pretrain.py):

    stage 1 (documents replayed in 4 micro-batches): heuristic quality
    filter (pure projection) → cross-batch EXACT dedup with the batch
    keep-rule via :func:`stream_exact_dedup_min` — min doc_id per
    normalized-content hash, so the survivor set is chunking/arrival
    independent (``dropDuplicates`` first-arrival would not be).  The
    trained-classifier filter applies on the survivor set (the logit is
    a pure function of the normalized text, so it commutes with the
    dedup — same-hash docs share one logit; batch-side persist keeps the
    17s-vs-3s projection barrier).

    stage 2 (survivors staged and re-streamed in 2 micro-batches — the
    stage boundary a production pipeline would place on a topic/Delta
    table): vocabulary tokenization as a stateless literal-map
    projection ON THE STREAM, feeding :func:`stream_pack_bestfit` —
    per-(size_class, shard) membership carried across batches, each
    touch re-deriving that bucket's harmonic-FFD packing as a
    monotone-versioned snapshot.  Max-version snapshots equal the batch
    packer exactly, so ONE SQL oracle (the pipeline_pretrain_bestfit
    twin, verbatim) covers the whole streamed composition — stronger
    than 'modulo pack-boundary semantics': the boundary semantics
    match.

    Chunking invariance is asserted in tests/test_streaming.py."""
    import os

    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators.dedup import _persist, md5_hash60
    from my_cudf_spark.queries.io_queries import _stage
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN
    from my_cudf_spark.queries.text_queries import (
        _QM_BIAS_MICRO,
        _QM_WEIGHTS,
        _norm_tokens,
        VOCAB,
    )
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.pretrain import (
        stream_exact_dedup_min,
        stream_pack_bestfit,
    )
    from my_cudf_spark.streaming.sources import replay_documents

    # ---- stage 1: streaming curation + cross-batch keep-min dedup
    s1, wd1 = replay_documents(spark, sf_dir, num_chunks=4)
    hashed = (
        s1.filter(T.quality_score("text") >= QUALITY_MIN)
        .select("doc_id", F.md5(T.normalize_text("text")).alias("h"))
    )
    dd = stream_exact_dedup_min(hashed, "doc_id", "h", buckets=8)
    dd_out = _drain(dd, "pretrain_dedup", wd1, output_mode="update")
    keep = dd_out.groupBy("h").agg(F.min("keep_id").alias("doc_id"))

    # ---- survivor set + model filter (batch side, persist barrier)
    docs = load_table(spark, sf_dir, "documents")
    surv = docs.join(keep.select("doc_id"), "doc_id")
    feat = surv.withColumn("toks", _norm_tokens()).withColumn(
        "feats", T.classifier_features(F.col("toks"), max_n=2)
    )
    modeled = _persist(
        feat.withColumn(
            "__logit",
            T.classifier_logit(
                F.col("feats"), _QM_WEIGHTS, _QM_BIAS_MICRO, hash_expr=md5_hash60
            ),
        ).drop("feats", "toks")
    ).filter(F.col("__logit") > 0)

    # ---- stage boundary: the curated survivor stream (in production a
    # topic / Delta table; here a 2-chunk staged parquet)
    stage_dir = _stage("stream_pretrain", sf_dir)
    modeled.select("doc_id", "source", "text").repartitionByRange(
        2, "doc_id"
    ).write.mode("overwrite").parquet(stage_dir)
    schema = "doc_id long, source string, text string"

    def stage2_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )

    # ---- stage 2a: tokenization ON THE STREAM (stateless projections)
    ids = T.tokens_to_vocab_ids(_norm_tokens(), VOCAB)
    tokenized = stage2_stream().select(
        "doc_id",
        "source",
        T.count_tokens("text").cast("long").alias("n_tokens"),
        F.array_join(F.transform(ids, lambda i: i.cast("string")), ",").alias("ids"),
    )
    tok_out = _drain(
        tokenized, "pretrain_tok", os.path.join(stage_dir, "__nope__")
    )

    # ---- stage 2b: cross-batch best-fit packing on the same stream
    counts = stage2_stream().select(
        "doc_id", T.count_tokens("text").cast("long").alias("n_tokens")
    )
    snaps = stream_pack_bestfit(counts, "doc_id", "n_tokens", 512, shards=4)
    pk_out = _drain(
        snaps, "pretrain_pack", os.path.join(stage_dir, "__nope__"),
        output_mode="update",
    )
    from pyspark.sql import Window

    wv = Window.partitionBy("size_class", "shard")
    packed = (
        pk_out.withColumn("__vmax", F.max("version").over(wv))
        .filter(F.col("version") == F.col("__vmax"))
        .select(
            F.col("id").alias("doc_id"), "size_class", "shard", "pack_idx", "slot"
        )
        # a bucket's max-version snapshot can be emitted twice when a
        # later batch only re-delivers — identical rows, dedup is exact
        .distinct()
    )
    return (
        tok_out.join(packed, "doc_id")
        .select(
            "doc_id", "source", "n_tokens", "ids",
            "size_class", "shard", "pack_idx", "slot",
        )
        .orderBy("doc_id")
    )




@register(
    "stream_ann_retrain_replay",
    sql="""
    WITH pl AS (SELECT b.b AS b, d.d AS d,
                       CASE WHEN substr(md5('0|' || b.b || '|' || d.d), 1, 1) >= '8'
                            THEN 1.0 ELSE -1.0 END AS w
                FROM range(4) b(b) CROSS JOIN range(64) d(d)),
    e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    base AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
    ed AS (SELECT vec_id, d.d AS d, v[d.d + 1] AS x FROM base CROSS JOIN range(64) d(d)),
    dots AS (SELECT ed.vec_id, pl.b, SUM(ed.x * pl.w) AS s
             FROM ed JOIN pl USING (d) GROUP BY 1, 2),
    sigs AS (SELECT vec_id,
                    CAST(SUM(CASE WHEN ROUND(s, 9) > 0 THEN (1 << b) ELSE 0 END)
                         AS INT) AS cell
             FROM dots GROUP BY 1),
    nano AS (SELECT s.cell, d.d AS d,
                    CAST(ROUND(b.v[d.d + 1] * 1000000000.0) AS BIGINT) AS nx
             FROM sigs s JOIN base b USING (vec_id) CROSS JOIN range(64) d(d)),
    stats AS (SELECT cell, d, COUNT(*) AS n, SUM(nx) AS snano
              FROM nano GROUP BY cell, d),
    cmean AS (SELECT cell,
                     list(CAST(snano AS DOUBLE) / (n * 1000000000.0) ORDER BY d) AS cv
              FROM stats GROUP BY cell),
    cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY cell) - 1 AS cid, cv,
             sqrt(list_dot_product(cv, cv)) AS cn
      FROM cmean),
    n2 AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
    ca AS (SELECT n2.vec_id AS neighbor_id, n2.v, n2.nn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n2.vec_id
                      ORDER BY list_dot_product(n2.v, c.cv)/(n2.nn*c.cn) DESC, c.cid) AS pr
           FROM n2 CROSS JOIN cents c),
    buckets AS (SELECT neighbor_id, v, nn, cid FROM ca WHERE pr = 1),
    qa AS (SELECT n2.vec_id AS query_id, n2.v AS qv, n2.nn AS qn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n2.vec_id
                      ORDER BY list_dot_product(n2.v, c.cv)/(n2.nn*c.cn) DESC, c.cid) AS pr
           FROM n2 CROSS JOIN cents c WHERE n2.vec_id < 5),
    probes AS (SELECT query_id, qv, qn, cid FROM qa WHERE pr <= 4),
    s AS (SELECT p.query_id, b.neighbor_id,
                 list_dot_product(p.qv, b.v)/(p.qn*b.nn) AS cos
          FROM probes p JOIN buckets b USING (cid)
          WHERE b.neighbor_id <> p.query_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS rank FROM s)
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def stream_ann_retrain_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EPOCH-RETRAIN loop of the streaming ANN index (closes the
    documented contract at streaming/annindex.py:12-21): epoch 0 is the
    live pre-retrain index (base corpus = even vec_ids under the SEEDED
    quantizer); the drained :func:`stream_cluster_stats` sufficient
    statistics over that same base corpus carry the M-step — their
    per-cell nano-unit means become the epoch-1 centroids (a bounded
    ≤2^bits-row driver materialization, the MLlib
    centroids-live-on-the-driver pattern); the epoch-1 index rebuilds
    over the FULL corpus under the retrained quantizer via
    :func:`stream_ann_index` with the bumped epoch key; and the READER
    applies stale-epoch revocation — both epochs' snapshot logs union,
    only max-epoch snapshots survive.  A 4-probe top-5 search against
    the surviving index equals batch IVF search with the retrained
    centroids over the full corpus, which is this oracle (the
    stream_cluster_stats SQL twin composed with the ivf probe SQL).

    Exactness: integer sufficient statistics commute (means are
    IEEE-identical on both engines: CAST(snano AS DOUBLE)/(n·1e9));
    assignment/probing is the shared sequential cosine fold; empty cells
    drop from both engines' centroid enumeration (cid = rank of cell).

    Scale: three bounded drains (index state = ids only; stats state =
    one (n, 64-sum) row per cell); the retrain itself moves ≤2^bits×dim
    floats through the driver — never corpus-sized data."""
    from my_cudf_spark.operators.similarity import (
        _assign_nearest,
        dot,
        l2_norm,
    )
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.annindex import stream_ann_index
    from my_cudf_spark.streaming.kmeans import stream_cluster_stats
    from my_cudf_spark.streaming.semdedup import cell_assign_pandas, seed_centroid_rows
    from my_cudf_spark.streaming.sources import replay_table
    from pyspark.sql import Window

    as_double = lambda df: df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    base_only = lambda df: df.filter(F.col("vec_id") % 2 == 0)
    emb_b = as_double(load_table(spark, sf_dir, "embeddings"))

    # epoch 0: the live pre-retrain index — base corpus, seeded quantizer.
    # The index drain and the M-step stats drain replay the IDENTICAL
    # base-corpus chunking and share no state, so they read ONE staged
    # replay (r12: the second replay prep wrote the same files again) and
    # drain CONCURRENTLY via _drain_concurrent (guide §2.6).
    import os as _os

    cents0 = seed_centroid_rows(emb_b, "vec_id", "embedding", 16)
    s0, wd0 = replay_table(
        spark, sf_dir, "embeddings", "vec_id", num_chunks=2, transform=base_only
    )
    s1 = (
        spark.readStream.schema(s0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_os.path.join(wd0, "data"))
    )
    a0 = as_double(s0).withColumn("cell", cell_assign_pandas(cents0, "embedding"))
    snaps = stream_cluster_stats(as_double(s1), "vec_id", "embedding", dim=64, bits=4)
    idx0, stats = _drain_concurrent(
        [
            (stream_ann_index(a0, "vec_id", "cell", epoch=0, buckets=4), "annrt0", "update"),
            (snaps, "annrtstats", "update"),
        ],
        [wd0],
    )
    srows = (
        stats.groupBy("cell")
        .agg(F.max_by("sums", "n").alias("sums"), F.max("n").alias("n"))
        .orderBy("cell")
        # bounded driver materialization: exactly the non-empty cells of a
        # 2^bits-cell partition (≤16 rows × 64 sums) — the retrained
        # centroids must live on the driver to become plan literals, the
        # seed_centroid_rows / MLlib-KMeans pattern
        .take(16)
    )
    cents1 = [[s / (r["n"] * 1e9) for s in r["sums"]] for r in srows]

    # epoch 1: rebuild over the FULL corpus under the retrained quantizer
    s2, wd2 = replay_table(spark, sf_dir, "embeddings", "vec_id", num_chunks=4)
    a1 = as_double(s2).withColumn("cell", cell_assign_pandas(cents1, "embedding"))
    idx1 = _drain(
        stream_ann_index(a1, "vec_id", "cell", epoch=1, buckets=4),
        "annrt1", wd2, output_mode="update",
    )

    # reader with stale-epoch revocation: both epochs' snapshot logs land
    # in one stream; only max-epoch snapshots survive
    log = idx0.unionByName(idx1)
    maxep = log.agg(F.max("epoch").alias("__maxep"))
    index = (
        log.crossJoin(F.broadcast(maxep))
        .filter(F.col("epoch") == F.col("__maxep"))
        .groupBy("cell")
        .agg(F.max_by("ids", "n").alias("ids"))
    )
    postings = index.select(
        F.col("cell").alias("cid"), F.explode("ids").alias("neighbor_id")
    )

    c = emb_b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    buckets_df = postings.join(c, "neighbor_id")
    cents1_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents1)], "cid int, __cv array<double>"
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    q = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    probes = _assign_nearest(q, cents1_df, "query_id", 4).select(
        "query_id", "cid", F.col("__v").alias("__qv"), F.col("__n").alias("__qn")
    )
    scored = (
        buckets_df.join(probes, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos", dot(F.col("__qv"), F.col("__v")) / (F.col("__qn") * F.col("__n"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@register(
    "stream_ann_ivfpq_replay",
    sql="""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
    cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv, nn AS cn
      FROM n QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
    ca AS (SELECT n.vec_id AS neighbor_id, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c),
    cells AS MATERIALIZED (SELECT neighbor_id, cid FROM ca WHERE pr = 1),
    seed AS (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
             FROM e QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
    pqc AS MATERIALIZED (
      SELECT code, CAST(s.s AS INT) AS sub, v[s.s*8+1 : s.s*8+8] AS cvec
      FROM seed CROSS JOIN range(8) s(s)),
    cs AS (SELECT vec_id AS neighbor_id, CAST(s.s AS INT) AS sub,
                  v[s.s*8+1 : s.s*8+8] AS xvec
           FROM e CROSS JOIN range(8) s(s)),
    dist AS (SELECT neighbor_id, sub, code,
                    list_aggregate(list_transform(range(1, 9),
                      i -> (xvec[i] - cvec[i]) * (xvec[i] - cvec[i])), 'sum') AS d2
             FROM cs JOIN pqc USING (sub)),
    codes AS MATERIALIZED (
      SELECT neighbor_id, sub, code FROM dist
      QUALIFY ROW_NUMBER() OVER (PARTITION BY neighbor_id, sub
                                 ORDER BY d2, code) = 1),
    cn2 AS (SELECT sub, code, list_dot_product(cvec, cvec) AS cn2 FROM pqc),
    recon AS (SELECT neighbor_id,
                     sqrt(CAST(CAST(SUM(CAST(ROUND(cn2, 9) AS DECIMAL(28,9)))
                               AS VARCHAR) AS DOUBLE)) AS rn
              FROM codes JOIN cn2 USING (sub, code) GROUP BY neighbor_id),
    qa AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nn AS qn, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c WHERE n.vec_id < 5),
    probes AS (SELECT query_id, qv, qn, cid FROM qa WHERE pr <= 4),
    adc AS (SELECT p.query_id, c.sub, c.code,
                   list_dot_product(p.qv[c.sub*8+1 : c.sub*8+8], c.cvec) AS dt
            FROM (SELECT DISTINCT query_id, qv FROM probes) p CROSS JOIN pqc c),
    sc AS (SELECT p.query_id, x.neighbor_id, MIN(p.qn) AS qn,
                  CAST(CAST(SUM(CAST(ROUND(a.dt, 9) AS DECIMAL(28,9)))
                       AS VARCHAR) AS DOUBLE) AS ip
           FROM probes p
           JOIN cells x ON x.cid = p.cid
           JOIN codes c ON c.neighbor_id = x.neighbor_id
           JOIN adc a ON a.query_id = p.query_id AND a.sub = c.sub AND a.code = c.code
           WHERE x.neighbor_id <> p.query_id
           GROUP BY 1, 2),
    sc2 AS (SELECT query_id, neighbor_id, ip / (qn * rn) AS approx_cos
            FROM sc JOIN recon USING (neighbor_id)),
    cand AS (SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_cos DESC, neighbor_id) AS crk
      FROM sc2) WHERE crk <= 50),
    rr AS (SELECT t.query_id, t.neighbor_id, t.approx_cos,
                  list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM cand t JOIN e a ON a.vec_id = t.query_id
                       JOIN e b ON b.vec_id = t.neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM rr)
    SELECT query_id, neighbor_id, ROUND(approx_cos, 6) AS approx_cos,
           ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def stream_ann_ivfpq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF-PQ index maintenance — the PQ-code leg the r9 index
    left documented-only (streaming/annindex.py): the full corpus streams
    in, each vector gets its frozen-epoch Voronoi cell
    (``cell_assign_expr``) AND its m=8 PQ code word (``pq_code_expr`` —
    argmin-L2 per subspace over the frozen codebook literals, a pure
    projection legal on a stream), and :func:`stream_ann_index` with
    ``code_col`` accumulates per-cell posting lists WITH the aligned
    code words as cross-batch state.  The drained index answers a
    4-probe ADC top-5 search from the STORED codes alone — reconstructed
    norms and query·codeword inner products come from the code column
    and the m×n_codes codebook, never the float corpus; exact cosine
    reranks 50 candidates (the pq_topk two-stage shape, full vectors
    touched only for the candidates×queries join).

    This is the NON-RESIDUAL IVF+PQ layout (codes quantize raw vectors —
    the ScaNN-style variant; the residual-coded variant is batch
    ``ivfpq_topk``/vec_topk_ivfpq): codes are a pure function of the
    vector under a frozen epoch, which is exactly what makes streaming
    maintenance legal, so the oracle is the batch composition of the
    vec_topk_ivf cell fragment with the vec_topk_pq code/ADC fragments.
    All sums ride the round(·,9)+DECIMAL(28,9) order-independence
    contract — the whole approximate pipeline is hash-exact."""
    from pyspark.sql import Window

    from my_cudf_spark.operators.similarity import dot, l2_norm, _assign_nearest, _seed_centroids
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.annindex import (
        cell_code_assign_pandas,
        seed_pq_codebooks,
        stream_ann_index,
    )
    from my_cudf_spark.streaming.semdedup import seed_centroid_rows
    from my_cudf_spark.streaming.sources import replay_table

    M, SUB_D, DEC = 8, 8, "decimal(28,9)"
    sdot = lambda a, b: F.aggregate(  # the shared sequential fold
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    as_double = lambda df: df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    emb_b = as_double(load_table(spark, sf_dir, "embeddings"))
    cents0 = seed_centroid_rows(emb_b, "vec_id", "embedding", 16)
    cbooks = seed_pq_codebooks(emb_b, "vec_id", "embedding", m=M, n_codes=16)

    # stream: frozen-epoch cell + PQ code word, both pure projections
    stream, work_dir = replay_table(
        spark, sf_dir, "embeddings", "vec_id", num_chunks=4
    )
    # Arrow-kernel assignment (r12): one pandas projection computes the
    # frozen-epoch cell AND the m=8 PQ code word, bit-identical to the
    # cell_assign_expr + pq_code_expr literal trees it replaces (tests
    # assert row-level equality); only (vec_id, cell, code) reach the
    # state operator — the vector never ships past the kernel.
    assigned = (
        as_double(stream)
        .select(
            "vec_id",
            cell_code_assign_pandas(cents0, cbooks, "embedding").alias("__cc"),
        )
        .select(
            "vec_id",
            F.col("__cc.cell").alias("cell"),
            F.col("__cc.code").alias("code"),
        )
    )
    snaps = stream_ann_index(
        assigned, "vec_id", "cell", epoch=0, buckets=4, code_col="code"
    )
    updates = _drain(snaps, "annivfpq", work_dir, output_mode="update")
    index = updates.groupBy("cell").agg(
        F.max_by("ids", "n").alias("ids"), F.max_by("codes", "n").alias("codes")
    )
    # (cid, neighbor_id, sub, code) from the stored index — the ADC scan
    # reads ONLY this compact layout
    postings = index.select(
        F.col("cell").alias("cid"),
        F.posexplode("ids").alias("pos", "neighbor_id"),
        F.col("codes"),
    ).select(
        "cid",
        "neighbor_id",
        F.slice(F.col("codes"), F.col("pos") * M + 1, M).alias("__cw"),
    )
    ncodes = postings.select(
        "cid", "neighbor_id", F.posexplode("__cw").alias("sub", "code")
    )

    # frozen codebook as a bounded m×n_codes frame (broadcasts everywhere)
    cb = spark.createDataFrame(
        [
            (s, c, cbooks[s][c])
            for s in range(M)
            for c in range(len(cbooks[s]))
        ],
        "sub int, code int, cvec array<double>",
    ).withColumn("__cn2", sdot(F.col("cvec"), F.col("cvec")))

    # reconstructed norm per neighbor, from stored codes only
    recon = (
        ncodes.join(F.broadcast(cb.select("sub", "code", "__cn2")), ["sub", "code"])
        .groupBy("neighbor_id")
        .agg(
            F.sqrt(
                F.sum(F.round(F.col("__cn2"), 9).cast(DEC)).cast("double")
            ).alias("__rn")
        )
    )

    # probes: 4 nearest coarse cells per query
    c = emb_b.select(
        F.col("vec_id").alias("__sid"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    coarse = _seed_centroids(c, "__sid", 16)
    q = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    probes = _assign_nearest(q, coarse, "query_id", 4).select(
        "query_id", "cid", F.col("__v").alias("__qv"), F.col("__n").alias("__qn")
    )

    # per-query ADC table: dot(q_s, cb[s, code]) for every (sub, code)
    qsubs = probes.select("query_id", "__qv", "__qn").distinct().select(
        "query_id",
        "__qn",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__qv", s * SUB_D + 1, SUB_D).alias("qvec"),
                )
                for s in range(M)
            ])
        ).alias("__s"),
    ).select(
        "query_id", "__qn", F.col("__s.sub").alias("sub"), F.col("__s.qvec").alias("qvec")
    )
    adc = qsubs.join(F.broadcast(cb.select("sub", "code", "cvec")), "sub").select(
        "query_id", "__qn", "sub", "code",
        sdot(F.col("qvec"), F.col("cvec")).alias("__dt"),
    )

    scored = (
        probes.select("query_id", "cid")
        .join(ncodes, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(adc), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("__qn").alias("__qn"),
            F.sum(F.round(F.col("__dt"), 9).cast(DEC)).cast("double").alias("__ip"),
        )
        .join(recon, "neighbor_id")
        .withColumn("approx_cos", F.col("__ip") / (F.col("__qn") * F.col("__rn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    cand = scored.withColumn("__crk", F.row_number().over(w)).filter(
        F.col("__crk") <= 50
    )
    cfull = emb_b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    qfull = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qfv"),
        l2_norm(F.col("embedding")).alias("__qfn"),
    )
    reranked = (
        cand.select("query_id", "neighbor_id", "approx_cos")
        .join(cfull, "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn(
            "cos",
            dot(F.col("__qfv"), F.col("__cv")) / (F.col("__qfn") * F.col("__cn")),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("approx_cos", 6).alias("approx_cos"),
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


@register(
    "stream_scd2_replay",
    sql="""
    WITH ev AS (SELECT o_custkey AS cust, o_orderkey AS eff,
                       o_orderpriority AS priority, o_orderstatus AS status
                FROM orders),
    d AS (SELECT *, ROW_NUMBER() OVER w AS rn,
                 LAG(priority) OVER w AS pp, LAG(status) OVER w AS ps,
                 COUNT(*) OVER (PARTITION BY cust) AS n_ev
          FROM ev WINDOW w AS (PARTITION BY cust ORDER BY eff)),
    kept AS (SELECT cust, priority, status, eff, n_ev FROM d
             WHERE rn = 1 OR priority IS DISTINCT FROM pp
                   OR status IS DISTINCT FROM ps),
    v AS (SELECT cust, priority, status, eff, n_ev,
                 LEAD(eff) OVER (PARTITION BY cust ORDER BY eff) AS nxt
          FROM kept)
    SELECT cust, priority, status,
           TIMESTAMP '1990-01-01 00:00:00' + to_seconds(eff) AS valid_from,
           TIMESTAMP '1990-01-01 00:00:00' + to_seconds(nxt) AS valid_to,
           (nxt IS NULL) AS is_current,
           CAST(n_ev AS BIGINT) AS n_events
    FROM v ORDER BY cust, valid_from
    """,
)
def stream_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 dimension maintenance (streaming/scd2.scd2_history —
    the stream twin of operators/cdc.scd2_apply, closing the last
    batch↔stream parity cell in the lakehouse tier): the per-customer
    (priority, status) change feed derived from ``orders`` replays as 4
    micro-batches; per-key cross-batch state is the exact-deduplicated
    change-event set, each emission the key's full derived version
    history stamped with a monotone ``n_events`` snapshot version — so
    the drained dimension (max-``n_events`` snapshot per key) is a pure
    function of the final event SET, chunking/arrival-order/redelivery
    independent, and the batch SQL fold (consecutive-attr collapse +
    lead valid_to) is the oracle verbatim.  Effective times ride the
    stream as epoch offsets (o_orderkey seconds past 1990-01-01 —
    unique per event by construction, so the (key, eff) contract holds)
    and convert to timestamps after the drain; composing the result
    with cdc.scd2_asof reproduces any point-in-time dimension read
    (tests/test_streaming_scd2.py).  State O(events per key) = the SCD2
    history itself; one vectorized pandas fold per bucket per batch
    (buckets=64)."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.scd2 import scd2_history
    from my_cudf_spark.streaming.sources import replay_table

    stream, work_dir = replay_table(spark, sf_dir, "orders", "o_orderkey")
    ch = stream.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("eff"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    hist = _drain(
        scd2_history(ch, ["cust"], ["priority", "status"], "eff", buckets=64),
        "scd2",
        work_dir,
        output_mode="update",
    )
    w = Window.partitionBy("cust")
    base = F.lit(631152000).cast("long")  # 1990-01-01 00:00:00 UTC
    return (
        hist.withColumn("__mx", F.max("n_events").over(w))
        .filter(F.col("n_events") == F.col("__mx"))
        .select(
            "cust",
            "priority",
            "status",
            F.timestamp_seconds(base + F.col("valid_from")).alias("valid_from"),
            F.timestamp_seconds(base + F.col("valid_to")).alias("valid_to"),
            "is_current",
            "n_events",
        )
        .dropDuplicates()
        .orderBy("cust", "valid_from")
    )


@register(
    "stream_ann_ivfpq_residual_replay",
    sql="""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
    cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv, nn AS cn
      FROM n QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 16),
    ca AS (SELECT n.vec_id AS neighbor_id, n.v, c.cid, c.cv,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c),
    res AS MATERIALIZED (
      SELECT neighbor_id, cid,
             list_transform(range(1, 65), i -> v[i] - cv[i]) AS r
      FROM ca WHERE pr = 1),
    rseed AS (SELECT r, ROW_NUMBER() OVER (ORDER BY neighbor_id) - 1 AS code
              FROM res QUALIFY ROW_NUMBER() OVER (ORDER BY neighbor_id) <= 16),
    rcents AS MATERIALIZED (
      SELECT code, CAST(s.s AS INT) AS sub, r[s.s*8+1 : s.s*8+8] AS rcvec
      FROM rseed CROSS JOIN range(8) s(s)),
    rs AS (SELECT neighbor_id, cid, CAST(s.s AS INT) AS sub,
                  r[s.s*8+1 : s.s*8+8] AS rxvec
           FROM res CROSS JOIN range(8) s(s)),
    dist AS (SELECT neighbor_id, cid, sub, code,
                    list_aggregate(list_transform(range(1, 9),
                      i -> (rxvec[i] - rcvec[i]) * (rxvec[i] - rcvec[i])), 'sum') AS d2
             FROM rs JOIN rcents USING (sub)),
    codes AS MATERIALIZED (
      SELECT neighbor_id, cid, sub, code FROM dist
      QUALIFY ROW_NUMBER() OVER (PARTITION BY neighbor_id, sub
                                 ORDER BY d2, code) = 1),
    csubs AS (SELECT cid, CAST(s.s AS INT) AS sub, cv[s.s*8+1 : s.s*8+8] AS csvec
              FROM cents CROSS JOIN range(8) s(s)),
    crossdt AS (SELECT cid, sub, code,
                       2*list_dot_product(csvec, rcvec)
                         + list_dot_product(rcvec, rcvec) AS cx
                FROM csubs JOIN rcents USING (sub)),
    centn2 AS (SELECT cid, list_dot_product(cv, cv) AS c2 FROM cents),
    recon AS (SELECT c.neighbor_id,
                     sqrt(CAST(CAST(SUM(CAST(ROUND(x.cx, 9) AS DECIMAL(28,9)))
                          + CAST(ROUND(MIN(z.c2), 9) AS DECIMAL(28,9))
                          AS VARCHAR) AS DOUBLE)) AS rn
              FROM codes c
              JOIN crossdt x ON x.cid = c.cid AND x.sub = c.sub AND x.code = c.code
              JOIN centn2 z ON z.cid = c.cid
              GROUP BY c.neighbor_id),
    qa AS (SELECT n.vec_id AS query_id, n.v AS qv, n.nn AS qn, c.cid, c.cv,
                  ROW_NUMBER() OVER (PARTITION BY n.vec_id
                      ORDER BY list_dot_product(n.v, c.cv)/(n.nn*c.cn) DESC, c.cid) AS pr
           FROM n CROSS JOIN cents c WHERE n.vec_id < 5),
    probes AS (SELECT query_id, qn, cid, list_dot_product(qv, cv) AS qc
               FROM qa WHERE pr <= 4),
    adc AS (SELECT q.vec_id AS query_id, r.sub, r.code,
                   list_dot_product(q.v[r.sub*8+1 : r.sub*8+8], r.rcvec) AS dt
            FROM e q CROSS JOIN rcents r WHERE q.vec_id < 5),
    sc AS (SELECT p.query_id, c.neighbor_id, MIN(p.qn) AS qn,
                  CAST(CAST(SUM(CAST(ROUND(a.dt, 9) AS DECIMAL(28,9)))
                       + CAST(ROUND(MIN(p.qc), 9) AS DECIMAL(28,9))
                       AS VARCHAR) AS DOUBLE) AS ip
           FROM codes c
           JOIN probes p ON p.cid = c.cid
           JOIN adc a ON a.query_id = p.query_id AND a.sub = c.sub AND a.code = c.code
           WHERE c.neighbor_id <> p.query_id
           GROUP BY 1, 2),
    sc2 AS (SELECT query_id, neighbor_id, ip / (qn * rn) AS approx_cos
            FROM sc JOIN recon USING (neighbor_id)),
    cand AS (SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_cos DESC, neighbor_id) AS crk
      FROM sc2) WHERE crk <= 50),
    rr AS (SELECT t.query_id, t.neighbor_id, t.approx_cos,
                  list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) AS cos
           FROM cand t JOIN e a ON a.vec_id = t.query_id
                       JOIN e b ON b.vec_id = t.neighbor_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM rr)
    SELECT query_id, neighbor_id, ROUND(approx_cos, 6) AS approx_cos,
           ROUND(cos, 6) AS cos, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def stream_ann_ivfpq_residual_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF-PQ with RESIDUAL coding — the same layout as batch
    ``ivfpq_topk``/vec_topk_ivfpq (codes quantize ``v − centroid[cell]``
    against one shared codebook, Jégou et al. 2011 §V / the FAISS
    default), closing the layout asymmetry the r10 non-residual variant
    documented: under a frozen epoch the residual is still a pure
    projection (``residual_expr`` — centroid table as an array literal
    indexed by the assigned cell), so the stream carries the
    better-recall-per-code-budget encoding batch users get, and the
    oracle is vec_topk_ivfpq's SQL VERBATIM — the drained index answers
    the probe bit-for-bit like the batch operator on the full corpus.

    Pipeline: corpus streams in 4 micro-batches → frozen-epoch cell
    (``cell_assign_expr``) + residual PQ code (``pq_code_expr`` over
    ``residual_expr``; codebooks seeded from the smallest-id rows'
    residuals with sequential-fold arithmetic, seed_residual_codebooks)
    → ``stream_ann_index`` accumulates per-cell posting lists with
    aligned code words → the drained codes feed the residual ADC
    decomposition ip(q, x̂) = dot(q, cent) + Σₛ dot(qₛ, cₛ[code]) and the
    reconstructed norm ‖cent‖² + Σₛ(2·dot(centₛ, cₛ[code]) + ‖cₛ[code]‖²)
    — scanned from the STORED code column, never the float corpus —
    then exact cosine reranks 50 candidates to top-5.  All cross-code
    sums ride the round(·,9)+DECIMAL(28,9) order-independence contract.

    Scale: encode is O(m × n_codes × sub_d) JVM arithmetic per row plus
    one dim-length subtraction; state is ids + m-byte codes per vector
    (the index, not the corpus); the ADC probe touches only probed
    cells' code rows and the rerank ≤50 candidates × queries."""
    from pyspark.sql import Window

    from my_cudf_spark.operators.similarity import (
        _assign_nearest,
        _seed_centroids,
        dot,
        l2_norm,
    )
    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.annindex import (
        cell_code_assign_pandas,
        seed_residual_codebooks,
        stream_ann_index,
    )
    from my_cudf_spark.streaming.semdedup import seed_centroid_rows
    from my_cudf_spark.streaming.sources import replay_table

    M, SUB_D, DEC = 8, 8, "decimal(28,9)"
    sdot = lambda a, b: F.aggregate(  # the shared sequential fold
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    as_double = lambda df: df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    emb_b = as_double(load_table(spark, sf_dir, "embeddings"))
    cents0 = seed_centroid_rows(emb_b, "vec_id", "embedding", 16)
    cbooks = seed_residual_codebooks(
        emb_b, "vec_id", "embedding", cents0, m=M, n_codes=16
    )

    # stream: frozen-epoch cell + residual PQ code, both pure projections
    stream, work_dir = replay_table(
        spark, sf_dir, "embeddings", "vec_id", num_chunks=4
    )
    # Arrow-kernel assignment (r12): one pandas projection computes the
    # frozen-epoch cell, the residual v − centroid[cell], and the m=8
    # residual PQ code word — bit-identical to the cell_assign_expr +
    # pq_code_expr(residual_expr(...)) literal trees it replaces (the
    # residual tree inlined the 16×64 centroid table into all 128
    # (sub, code) d2 computations: ~8.5 s of py4j expression construction
    # per call + ~1 s/batch of planning, measured in OPTIMIZATION_r12.md).
    # Only (vec_id, cell, code) reach the state operator.
    assigned = (
        as_double(stream)
        .select(
            "vec_id",
            cell_code_assign_pandas(
                cents0, cbooks, "embedding", residual=True
            ).alias("__cc"),
        )
        .select(
            "vec_id",
            F.col("__cc.cell").alias("cell"),
            F.col("__cc.code").alias("code"),
        )
    )
    snaps = stream_ann_index(
        assigned, "vec_id", "cell", epoch=0, buckets=4, code_col="code"
    )
    updates = _drain(snaps, "annivfpqr", work_dir, output_mode="update")
    index = updates.groupBy("cell").agg(
        F.max_by("ids", "n").alias("ids"), F.max_by("codes", "n").alias("codes")
    )
    postings = index.select(
        F.col("cell").alias("cid"),
        F.posexplode("ids").alias("pos", "neighbor_id"),
        F.col("codes"),
    ).select(
        "cid",
        "neighbor_id",
        F.slice(F.col("codes"), F.col("pos") * M + 1, M).alias("__cw"),
    )
    ncodes = postings.select(
        "cid", "neighbor_id", F.posexplode("__cw").alias("sub", "code")
    )

    # frozen residual codebook as a bounded m×n_codes frame
    rcb = spark.createDataFrame(
        [
            (s, c, cbooks[s][c])
            for s in range(M)
            for c in range(len(cbooks[s]))
        ],
        "sub int, code int, rcvec array<double>",
    )
    # coarse centroids as a bounded frame: cid, cv, per-sub slices
    cvdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents0)], "cid int, cv array<double>"
    )
    csubs = cvdf.select(
        "cid",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("cv", s * SUB_D + 1, SUB_D).alias("csvec"),
                )
                for s in range(M)
            ])
        ).alias("__s"),
    ).select("cid", F.col("__s.sub").alias("sub"), F.col("__s.csvec").alias("csvec"))
    cross = csubs.join(rcb, "sub").select(
        "cid",
        "sub",
        "code",
        (
            2 * sdot(F.col("csvec"), F.col("rcvec"))
            + sdot(F.col("rcvec"), F.col("rcvec"))
        ).alias("__cx"),
    )
    centn2 = cvdf.select("cid", sdot(F.col("cv"), F.col("cv")).alias("__c2"))

    # reconstructed norm per neighbor, from stored codes only — the
    # residual decomposition ‖cent‖² + Σₛ(2·dot(centₛ, cₛ) + ‖cₛ‖²)
    recon = (
        ncodes.join(F.broadcast(cross), ["cid", "sub", "code"])
        .join(F.broadcast(centn2), "cid")
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

    # probes: 4 nearest coarse cells per query, carrying dot(q, cent)
    c = emb_b.select(
        F.col("vec_id").alias("__sid"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    coarse = _seed_centroids(c, "__sid", 16)
    q = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    probes = (
        _assign_nearest(q, coarse, "query_id", 4)
        .join(F.broadcast(coarse), "cid")
        .select(
            "query_id",
            "cid",
            F.col("__n").alias("__qn"),
            sdot(F.col("__v"), F.col("__cv")).alias("__qc"),
        )
    )

    # per-query ADC table: dot(q_s, rcb[s, code]) for every (sub, code)
    qsubs = q.select(
        "query_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("__v", s * SUB_D + 1, SUB_D).alias("qvec"),
                )
                for s in range(M)
            ])
        ).alias("__s"),
    ).select(
        "query_id", F.col("__s.sub").alias("sub"), F.col("__s.qvec").alias("qvec")
    )
    adc = qsubs.join(F.broadcast(rcb), "sub").select(
        "query_id", "sub", "code", sdot(F.col("qvec"), F.col("rcvec")).alias("__dt")
    )

    scored = (
        ncodes.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(adc), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id")
    )
    cand = scored.withColumn("__crk", F.row_number().over(w)).filter(
        F.col("__crk") <= 50
    )
    cfull = emb_b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    qfull = emb_b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qfv"),
        l2_norm(F.col("embedding")).alias("__qfn"),
    )
    reranked = (
        cand.select("query_id", "neighbor_id", "approx_cos")
        .join(cfull, "neighbor_id")
        .join(F.broadcast(qfull), "query_id")
        .withColumn(
            "cos",
            dot(F.col("__qfv"), F.col("__cv")) / (F.col("__qfn") * F.col("__cn")),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("approx_cos", 6).alias("approx_cos"),
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
