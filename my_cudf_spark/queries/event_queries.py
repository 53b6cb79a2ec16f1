"""Event-table queries: time windows + sessionization + funnel
(SURVEY.md §2.5 resample / §2.12 streaming windows).

These run the operators in :mod:`my_cudf_spark.streaming.ops` on the batch
``events`` frame — the identical plan runs on a streaming frame
(tests/test_streaming.py replays the same rows through ``readStream`` and
asserts equality), so these oracles certify both modes.

The reference has no time-window machinery at all (polars dynamic/rolling
groupbys raise NotImplemented, cudf_polars ir.py:982-987; resample is the
closest analogue, cudf resample.py:37-90) — this family is a capability
superset expressed with Spark builtins.

Scale: all three window shapes shuffle once on (window, keys) with map-side
partial aggregation; session windows additionally sort within partitions.
Key cardinality here is (time-bin × event_type) or user_id — no skew risk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_cudf_spark.functions.stable import DEC, sql_dec2dbl
from my_cudf_spark.queries import register
from my_cudf_spark.sources import load_table
from my_cudf_spark.streaming import ops as S

SUM_VALUE = lambda: F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value")
SQL_SUM_VALUE = sql_dec2dbl(f"SUM(CAST(value AS {DEC}))") + " AS sum_value"


@register(
    "events_tumbling",
    sql=f"""
    SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS win_start,
           time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) + INTERVAL '6 hours' AS win_end,
           event_type,
           COUNT(*) AS n_events,
           {SQL_SUM_VALUE}
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY win_start, event_type
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h event-time window by event_type (``window()`` — same op
    is the streaming tumbling agg with a watermark)."""
    ev = load_table(spark, sf_dir, "events")
    out = S.tumbling_agg(
        ev,
        "ts",
        "6 hours",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n_events"), SUM_VALUE()],
    )
    return out.orderBy("win_start", "event_type")


@register(
    "events_sliding",
    sql=f"""
    SELECT ws AS win_start, ws + INTERVAL '1 hour' AS win_end,
           COUNT(*) AS n_events, {SQL_SUM_VALUE}
    FROM (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - k.k * INTERVAL '30 minutes' AS ws,
                 value
          FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
    GROUP BY 1, 2
    ORDER BY win_start
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 30m hop: each event lands in exactly 2 windows
    (``window(ts, '1 hour', '30 minutes')``); the oracle materializes the
    2-window fan-out explicitly."""
    ev = load_table(spark, sf_dir, "events")
    out = S.sliding_agg(
        ev,
        "ts",
        "1 hour",
        "30 minutes",
        aggs=[F.count(F.lit(1)).alias("n_events"), SUM_VALUE()],
    )
    return out.orderBy("win_start")


@register(
    "events_session",
    sql=f"""
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
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
           COUNT(*) AS n_events, {SQL_SUM_VALUE}
    FROM numbered GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (``session_window(ts, '30 min')``);
    oracle is the classic gaps-and-islands rewrite.  Spark merges events
    whose gap is strictly < the timeout, hence ``>=`` starts a new session
    on the oracle side."""
    ev = load_table(spark, sf_dir, "events")
    out = S.session_agg(
        ev,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events"), SUM_VALUE()],
    )
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    ).orderBy("user_id", "session_start")


@register(
    "events_funnel",
    sql="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'view') AS first_view,
           MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'purchase') AS first_purchase,
           COALESCE(MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'view')
                      < MIN(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'purchase'),
                    FALSE) AS converted
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel per user via conditional aggregation — one pass, no
    self-joins (at 100 TB a per-stage self-join would shuffle the fact table
    k times; FILTER-style conditional aggs shuffle once)."""
    ev = load_table(spark, sf_dir, "events")
    first_ts = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    n_of = lambda t: F.count(F.when(F.col("event_type") == t, F.lit(1)))
    return (
        ev.groupBy("user_id")
        .agg(
            n_of("view").alias("n_views"),
            n_of("click").alias("n_clicks"),
            n_of("purchase").alias("n_purchases"),
            first_ts("view").cast("timestamp_ntz").alias("first_view"),
            first_ts("purchase").cast("timestamp_ntz").alias("first_purchase"),
        )
        .withColumn(
            "converted",
            F.coalesce(F.col("first_view") < F.col("first_purchase"), F.lit(False)),
        )
        .orderBy("user_id")
    )


@register(
    "agg_kendall",
    sql="""
    WITH e AS (SELECT user_id, value AS x,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS y, event_id
               FROM events WHERE value IS NOT NULL),
         p AS (SELECT a.user_id,
                      SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                                 OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS c,
                      SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                                 OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS d,
                      SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS xt,
                      SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS yt,
                      COUNT(*) AS n0
               FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
               GROUP BY a.user_id)
    SELECT user_id,
           CAST(c - d AS DOUBLE) / sqrt(CAST(n0 - xt AS DOUBLE))
                                 / sqrt(CAST(n0 - yt AS DOUBLE)) AS kendall_tau
    FROM p ORDER BY user_id
    """,
)
def agg_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL correlation kind (aggregation.hpp:255; SURVEY.md §7.3
    custom): per-user tau-b of (value, event time) via Knight's O(n log n)
    algorithm in applyInPandas — the oracle is the O(n²) pair-join
    definition, viable only at test scale.  Integer pair counts feed an
    identically-shaped float expression on both sides, so the match is
    exact without rounding."""
    from my_cudf_spark.operators.stats import grouped_kendall

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.col("value").alias("x"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("y"),
        )
    )
    return grouped_kendall(ev, ["user_id"], "x", "y").orderBy("user_id")


@register(
    "sketch_distinct_users",
    sql="""
    SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
           COUNT(DISTINCT user_id) AS users,
           TRUE AS est_within_2pct
    FROM events GROUP BY 1 ORDER BY week
    """,
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-cardinality rollup (operators/sketches.py): daily HLL
    user sketches unioned to weekly estimates — the shape that answers
    re-grouped distinct questions from kilobyte summaries at 100 TB.

    The hash-compared columns are the EXACT weekly distinct counts plus
    an est_within_2pct flag asserting the merged-sketch estimate lands
    inside the HLL error contract — checking accidental estimate==exact
    equality instead would only hold while the sketch stays in its
    sparse regime (it broke the first time the gate ran at sf0.1, where
    1500-user weeks estimate as ~1488).  The merge≡direct property and
    the tighter ±1.6% bound are pinned in tests/test_sketches.py."""
    from my_cudf_spark.operators import sketches as SK

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts"),
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        "user_id",
    )
    daily = SK.distinct_sketch(ev, ["week", "day"], "user_id")
    weekly = SK.merge_sketches(daily, ["week"])
    est = weekly.select("week", SK.estimate().alias("est"))
    exact = ev.groupBy("week").agg(F.countDistinct("user_id").alias("users"))
    return (
        exact.join(est, "week")
        .select(
            "week",
            "users",
            (
                F.abs(F.col("est") - F.col("users"))
                <= 0.02 * F.col("users")
            ).alias("est_within_2pct"),
        )
        .orderBy("week")
    )


RETENTION_SQL = """
WITH e AS (SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
           FROM events),
cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
SELECT cohort_wk,
       CAST(date_diff('day', cohort_wk, wk) / 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS active_users
FROM e JOIN cohort ON e.user_id = cohort.user_id
GROUP BY cohort_wk, week_offset
ORDER BY cohort_wk, week_offset
"""


@register("events_retention", sql=RETENTION_SQL)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week, activity
    counted per week offset — the standard product-analytics rollup.
    Two hash aggregations plus one equi-join on user_id; the cohort
    frame is |users|-sized and co-partitioned with the join key, so the
    join reuses the aggregation's shuffle."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        e.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_wk", "week_offset")
    )


MAD_SQL = """
WITH m AS (SELECT user_id, ROUND(MEDIAN(value), 6) AS med FROM events GROUP BY user_id),
d AS (SELECT e.user_id, ROUND(ABS(value - med), 6) AS dev, med
      FROM events e JOIN m USING (user_id)),
md AS (SELECT user_id, ROUND(MEDIAN(dev), 6) AS mad FROM d GROUP BY user_id)
SELECT d.user_id, MAX(d.med) AS med, MAX(md.mad) AS mad,
       CAST(SUM(CASE WHEN dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n_events
FROM d JOIN md USING (user_id)
GROUP BY d.user_id ORDER BY d.user_id
"""


@register("events_outliers_mad", sql=MAD_SQL)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per user: median / median-absolute-
    deviation with a 3-MAD cut — the standard value filter that, unlike
    z-scores, is not dragged by the outliers it hunts.  Two grouped
    exact-percentile aggregations plus two co-partitioned joins on
    user_id (the join reuses each aggregation's shuffle).  Medians and
    deviations are rounded to 6 places BEFORE comparison on both
    engines: median interpolation is a+(b-a)f in DuckDB but (a+b)/2-
    style in Spark, so raw low bits differ and an unrounded 3-MAD
    boundary would flip flags between engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    m = ev.groupBy("user_id").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med")
    )
    d = ev.join(m, "user_id").select(
        "user_id", "med", F.round(F.abs(F.col("value") - F.col("med")), 6).alias("dev")
    )
    md = d.groupBy("user_id").agg(
        F.round(F.expr("percentile(dev, 0.5D)"), 6).alias("mad")
    )
    return (
        d.join(md, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "events_type_counts",
    sql="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def events_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch leg of ``streaming.stateful.type_counts``: the same
    ``groupBy(user, type).count`` plan that, on a stream, keeps the
    running counts in Spark's native aggregation state — so this result is
    also what a drained stream's final counts equal."""
    from my_cudf_spark.streaming.stateful import type_counts

    ev = load_table(spark, sf_dir, "events")
    return (
        type_counts(ev, ["user_id"], "event_type")
        .withColumn("n", F.col("n").cast("long"))
        .orderBy("user_id", "event_type")
    )


# Shared with stream_funnel_replay: the streamed max-version snapshot is
# a pure function of the final event set, so ONE oracle covers both legs.
SQL_FUNNEL_ORDERED = """
    WITH u AS (SELECT COUNT(DISTINCT user_id) AS total FROM events),
    v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
          GROUP BY 1),
    p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
          GROUP BY 1)
    SELECT stage, n_reached, CAST(n_reached AS DOUBLE) / total AS conv_rate
    FROM (SELECT 1 AS stage, (SELECT COUNT(*) FROM v) AS n_reached, total FROM u
          UNION ALL
          SELECT 2, (SELECT COUNT(*) FROM c), total FROM u
          UNION ALL
          SELECT 3, (SELECT COUNT(*) FROM p), total FROM u)
    ORDER BY stage
    """


@register("events_funnel_ordered", sql=SQL_FUNNEL_ORDERED)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-ORDER funnel (view → click → purchase) — unlike
    events_funnel's independent per-stage aggregates, each step must
    happen strictly AFTER the previous step's match: per user, the
    greedy earliest progression through the step sequence (earliest view,
    then the earliest LATER click, then the earliest later purchase —
    greedy is optimal for reachability, and equals the oracle's
    min-timestamp chaining).  ONE shuffle: each user's events fold inside
    a sorted collect_list via a codegen aggregate expression — no
    per-step join cascade, no window; per-user lists are bounded by
    events-per-entity (the sessionization contract)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    lst = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("evs")
    )
    zero_ts = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")

    def step(acc, e):
        def to(stage):
            return F.struct(
                F.lit(stage).alias("stage"), e.getField("ts").alias("since")
            )

        t, ty = e.getField("ts"), e.getField("event_type")
        return (
            F.when((acc.getField("stage") == 0) & (ty == "view"), to(1))
            .when(
                (acc.getField("stage") == 1)
                & (ty == "click")
                & (t > acc.getField("since")),
                to(2),
            )
            .when(
                (acc.getField("stage") == 2)
                & (ty == "purchase")
                & (t > acc.getField("since")),
                to(3),
            )
            .otherwise(acc)
        )

    stage = F.aggregate(
        F.col("evs"),
        F.struct(F.lit(0).alias("stage"), zero_ts.alias("since")),
        step,
        lambda acc: acc.getField("stage"),
    )
    per_user = lst.select(stage.alias("stage"))
    tot = per_user.agg(
        F.count(F.lit(1)).alias("total"),
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
    "agg_mad_outliers",
    sql="""
    WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
               WHERE value IS NOT NULL),
    med AS (SELECT event_type, quantile_cont(x, 0.5) AS med,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM b GROUP BY 1),
    dev AS (SELECT b.event_type, abs(b.x - med.med) AS ad
            FROM b JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1),
    fl AS (SELECT dev.event_type,
                  CAST(SUM(CASE WHEN dev.ad > 3.0 * 1.4826 * mad.mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           FROM dev JOIN mad USING (event_type) GROUP BY 1)
    SELECT med.event_type AS event_type, med.n AS n, med.med AS med,
           mad.mad AS mad, fl.n_outliers AS n_outliers
    FROM med JOIN mad USING (event_type) JOIN fl USING (event_type)
    ORDER BY event_type
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier statistics (stats.grouped_mad_outliers):
    median, MAD, and the robust-z (|x − med| > 3·1.4826·MAD) outlier
    count per event type — the median-based filter curation pipelines
    prefer over mean/std because a single wild value cannot move it.
    Two grouped exact-percentile passes + broadcast joins back; DuckDB's
    quantile_cont interpolates identically to Spark's percentile so the
    doubles match bit-for-bit."""
    from my_cudf_spark.operators.stats import grouped_mad_outliers

    ev = load_table(spark, sf_dir, "events")
    out = grouped_mad_outliers(ev, ["event_type"], "value", z=3.0)
    return out.select(
        "event_type", F.col("n").cast("long").alias("n"), "med", "mad",
        F.col("n_outliers").cast("long").alias("n_outliers"),
    ).orderBy("event_type")


@register(
    "graph_pagerank",
    sql="""
    WITH e0 AS (SELECT DISTINCT 2 * l_partkey AS a, 2 * l_suppkey + 1 AS b
                FROM lineitem),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS v, deg, CAST(1000000000000 // n AS BIGINT) AS r
           FROM deg CROSS JOIN nn),
    c1 AS (SELECT e.dst AS v, SUM(r0.r // r0.deg) AS s
           FROM edges e JOIN r0 ON e.src = r0.v GROUP BY e.dst),
    r1 AS (SELECT c1.v, deg.deg,
                  CAST(3000000000000 // (20 * n) + (17 * c1.s) // 20 AS BIGINT) AS r
           FROM c1 JOIN deg ON deg.src = c1.v CROSS JOIN nn),
    c2 AS (SELECT e.dst AS v, SUM(r1.r // r1.deg) AS s
           FROM edges e JOIN r1 ON e.src = r1.v GROUP BY e.dst),
    r2 AS (SELECT c2.v, deg.deg,
                  CAST(3000000000000 // (20 * n) + (17 * c2.s) // 20 AS BIGINT) AS r
           FROM c2 JOIN deg ON deg.src = c2.v CROSS JOIN nn),
    c3 AS (SELECT e.dst AS v, SUM(r2.r // r2.deg) AS s
           FROM edges e JOIN r2 ON e.src = r2.v GROUP BY e.dst),
    r3 AS (SELECT c3.v,
                  CAST(3000000000000 // (20 * n) + (17 * c3.s) // 20 AS BIGINT) AS r
           FROM c3 CROSS JOIN nn)
    SELECT CASE WHEN v % 2 = 0 THEN 'p:' || CAST(v // 2 AS VARCHAR)
                ELSE 's:' || CAST(v // 2 AS VARCHAR) END AS v,
           r AS rank_micro, CAST(r AS DOUBLE) / 1000000000000.0 AS rank
    FROM r3 ORDER BY v
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations, α = 17/20) over the undirected
    part↔supplier co-occurrence graph from lineitem — the graph-analytics
    tier next to connected components (dedup_clusters): importance
    propagation for corpus/link analysis.  Ranks live in INTEGER
    micro-units (1e-12) and damping is exact integer arithmetic
    (floor((17·s) / 20) via `div`), so every iteration is sums and floor
    divisions of BIGINTs — order-independent, no float boundary anywhere,
    bit-identical to the unrolled-CTE oracle.  Each iteration is one
    equi-join (rank frame → edges) + one groupBy(dst); undirected edges
    mean no dangling mass."""
    li = load_table(spark, sf_dir, "lineitem")
    # long vertex ids (part -> 2k, supplier -> 2k+1): integer keys make
    # the edge distinct + the per-iteration join/groupBy shuffles several
    # times cheaper than 'p:<key>' strings; labels rebuild on the final
    # vertex-count-sized frame only.
    e0 = li.select(
        (2 * F.col("l_partkey")).cast("long").alias("a"),
        (2 * F.col("l_suppkey") + 1).cast("long").alias("b"),
    ).distinct()
    # Undirect via ONE explode instead of a self-union (the union's two
    # branches each re-ran the distinct — two shuffles of lineitem for one
    # edge set), and pin the edge frame hash-partitioned on src: deg's
    # groupBy and every iteration's rank join reuse that layout, so the
    # only per-iteration Exchange left is the contribution groupBy(dst)
    # (guide §2.4 — operations keyed the same way share one exchange).
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from my_cudf_spark.operators.dedup import _persist

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _persist(edges.repartition(nparts, "src"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    r = (
        deg.crossJoin(F.broadcast(nn))
        .select(
            F.col("src").alias("v"),
            "deg",
            F.expr("CAST(1000000000000 AS BIGINT) div n").alias("r"),
        )
    )
    for _ in range(3):
        contrib = (
            edges.join(r.withColumnRenamed("v", "src"), "src")
            .select(F.col("dst").alias("v"), F.expr("r div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            contrib.join(deg.withColumnRenamed("src", "v"), "v")
            .crossJoin(F.broadcast(nn))
            .select(
                "v",
                "deg",
                F.expr(
                    "CAST(3000000000000 AS BIGINT) div (20 * n)"
                    " + (17 * s) div 20"
                ).cast("long").alias("r"),
            )
        )
        # The rank frame appears ONCE per iteration, so the lazy plan is
        # LINEAR in rounds and a single action runs it — measured ~30%
        # faster than eager per-round localCheckpoints at 3 rounds.  A
        # deep walk (>5-10 rounds) should truncate lineage per round like
        # connected_components does.
    label = F.when(
        F.col("v") % 2 == 0,
        F.concat(F.lit("p:"), (F.col("v") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s:"), ((F.col("v") - 1) / 2).cast("long").cast("string"))
    )
    return r.select(
        label.alias("v"),
        F.col("r").alias("rank_micro"),
        (F.col("r").cast("double") / F.lit(1e12)).alias("rank"),
    ).orderBy("v")


@register(
    "agg_group_ols",
    sql="""
    WITH e AS (SELECT user_id,
                      (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                        // 86400000000 AS x,
                      CAST(value AS DECIMAL(18,2)) AS y
               FROM events WHERE value IS NOT NULL),
    m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 SUM(y) AS sy,
                 SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy
          FROM e GROUP BY user_id)
    SELECT user_id, n,
           (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
             / (n * sxx - sx * sx) AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
             - ((CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
                / (n * sxx - sx * sx)) * sx) / n AS intercept
    FROM m WHERE n * sxx - sx * sx <> 0 ORDER BY user_id
    """,
)
def agg_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (value ~ days since 2024-01-01), the
    grouped regression kind the reference's aggregation enum stops short
    of: every moment (n, Σx, Σx², Σy, Σxy) is EXACT — x is an integer
    day offset, y a DECIMAL(18,2), products and sums stay decimal — so
    both engines reach slope/intercept through identical IEEE divisions
    of identical exact numerators.  One map-side-combined aggregation;
    no window, no second pass.

    Intercept note: the oracle's intercept formula divides the exact
    decimal numerator only at the END (sy − slope·sx stays decimal via
    DuckDB's decimal division semantics mirrored in the Spark
    expression below), keeping the cross-engine contract."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) - 1704067200000000)"
            " div 86400000000"
        ).alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    m = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    # intercept in pure doubles over EXACT components (sy decimal->double,
    # sx/n integers): mixed decimal division has engine-specific
    # precision/scale rules, doubles don't.
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    return (
        m.filter(den != 0)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            slope.alias("slope"),
            intercept.alias("intercept"),
        )
        .orderBy("user_id")
    )


@register(
    "agg_gini",
    sql="""
    WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt
               FROM documents WHERE text IS NOT NULL),
    r AS (SELECT source, nt,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY nt, doc_id) AS i
          FROM d),
    g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(nt) AS BIGINT) AS tot,
                 CAST(SUM(i * nt) AS BIGINT) AS ws
          FROM r GROUP BY source)
    SELECT source, n, tot,
           CAST(2 * ws AS DOUBLE) / (n * tot)
             - CAST(n + 1 AS DOUBLE) / n AS gini
    FROM g ORDER BY source
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Gini coefficient of the token-count distribution — the
    inequality statistic a data-mix report tracks (is one source's mass
    concentrated in a few huge documents?).  The rank formula
    G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over (value, id)-sorted rows keeps
    everything in exact integer sums until two final IEEE divisions, so
    both engines agree bit-for-bit; one window + one aggregation per
    group."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("nt"),
    )
    w = Window.partitionBy("source").orderBy("nt", "doc_id")
    r = d.withColumn("i", F.row_number().over(w))
    g = r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nt").alias("tot"),
        F.sum(F.col("i") * F.col("nt")).alias("ws"),
    )
    return g.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("tot").cast("long").alias("tot"),
        (
            (2 * F.col("ws")).cast("double") / (F.col("n") * F.col("tot"))
            - (F.col("n") + 1).cast("double") / F.col("n")
        ).alias("gini"),
    ).orderBy("source")
