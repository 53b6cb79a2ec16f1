"""Stateful streaming operators.

The reference has no stateful streaming machinery at all (SURVEY.md §2.12);
this is the Spark-native surface a user would reach for where the reference
would have hand-rolled a consumer loop over ``Consumer.read_gdf`` batches
(``custreamz/kafka.py``).

Every operator here keeps its stream state in Spark's built-in streaming
aggregation in update mode — one ``UnsafeRow`` per key in the native state
store, partial aggregation map-side, no Python worker:

- ``running_totals``: per-key ``groupBy(keys).agg(count, sum)``;
- ``type_counts``: per-(key, type) ``count(*)``;
- ``heavy_hitters``: per-key top-k frequency sketch — the DataSketches
  frequent-items summary behind ``approx_top_k_accumulate``;
- ``latest_state``: per-key keep-latest as ``max_by`` over ``(seq, op)``;
- ``incremental_agg_totals``: per-key ``sum``/``sum``/``count`` of CDC
  deltas.

Each emits the keys a micro-batch touched with their cumulative value, and
the identical plan on a batch frame is the oracle for the stream's final
state (``latest_state`` and ``heavy_hitters`` keep exact ``row_number``
batch twins).

State that is not an aggregate (reservoirs, version histories, inverted
indexes) runs through the one Python-state kernel,
:mod:`~my_cudf_spark.streaming.pystate`."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def running_totals(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-key running (n_events, sum_value): ``groupBy(keys).agg(count,
    sum)`` on batch and streaming frames alike.  Streaming, it is Spark's
    native aggregation state (update mode emits each touched key's
    cumulative totals per micro-batch), so the batch result is the oracle
    for the stream's final state.

    SQL semantics in both modes: ``n_events`` counts every row, NULL
    values included; ``sum_value`` skips NULLs and is NULL for a key whose
    values are all NULL; a NULL key is its own group."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("sum_value"),
    )


def type_counts(df: DataFrame, keys: Sequence[str], type_col: str) -> DataFrame:
    """Per-key per-``type_col`` running counts: ``groupBy(keys,
    type_col).agg(count(*) AS n)`` on batch and streaming frames alike.
    Streaming, each micro-batch emits the refreshed totals of the (key,
    type) pairs it touched; the final row per pair (``max(n)``) equals the
    batch count.  Counting is order-insensitive, so any chunking of the
    replay converges to the same totals."""
    return df.groupBy(*keys, type_col).agg(F.count(F.lit(1)).alias("n"))


def _count_desc_item_asc(a: Column, b: Column) -> Column:
    """``array_sort`` comparator over ``struct<item, count>``: count
    descending, ties by item ascending — the batch twin's rank order."""
    return (
        F.when(a["count"] > b["count"], -1)
        .when(a["count"] < b["count"], 1)
        .when(a["item"] < b["item"], -1)
        .when(a["item"] > b["item"], 1)
        .otherwise(0)
    )


def heavy_hitters(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    k: int,
    capacity: int = 64,
) -> DataFrame:
    """Per-key top-``k`` most frequent ``item_col`` values.

    Output: ``keys…, rank int, <item_col>, n bigint, n_seen bigint`` —
    rank 1..k by count descending, ties by item ascending; ``n_seen`` is
    the number of non-NULL items the key has seen, whose per-key maximum
    marks the final snapshot after a bounded drain.  NULL items are not
    counted in either mode; a NULL key is its own group.

    Streaming: ``approx_top_k_accumulate(item, capacity)`` per key in
    Spark's native aggregation state (a DataSketches frequent-items
    summary, one state row per key, no Python worker); each micro-batch
    emits the current top-k of every key it touched, ranked by
    ``array_sort`` over ``approx_top_k_estimate`` so the tie order is the
    batch twin's.  Contract: the counts are EXACT while a key has seen at
    most ``capacity`` distinct items — the premise that makes the batch
    twin a bit-exact oracle.  Past that the sketch estimates (the classic
    frequent-items error bound), so size ``capacity`` to the per-key
    distinct-item count whenever an exact answer is required.  The item
    column keeps its type for every type ``approx_top_k`` accepts.

    Batch: the exact groupBy count + row_number twin with the same output
    schema — the oracle for the streamed final state.

    Scale: state is O(keys × capacity) regardless of stream length; the
    per-batch shuffle carries raw rows once (the groupBy, with partial
    aggregation map-side), and emitted rows are k per touched key per
    batch."""
    keys = list(keys)
    if k < 1 or capacity < k:
        raise ValueError("require 1 <= k <= capacity")
    df = df.filter(F.col(item_col).isNotNull())
    if not df.isStreaming:
        from pyspark.sql import Window

        c = df.groupBy(*keys, item_col).agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy(*keys).orderBy(F.desc("n"), F.asc(item_col))
        # n_seen via a window sum over the per-item counts, NOT a
        # key-equality self-join: a column-name-list join drops NULL keys
        # (the streaming leg keeps them), and the window reuses the rank's
        # partitioning — one shuffle instead of two plus a join.
        return (
            c.withColumn("rank", F.row_number().over(w))
            .withColumn("n_seen", F.sum("n").over(Window.partitionBy(*keys)))
            .filter(F.col("rank") <= k)
            .select(
                *keys,
                F.col("rank").cast("int"),
                item_col,
                F.col("n").cast("long"),
                F.col("n_seen").cast("long"),
            )
        )

    cap = F.lit(capacity)
    sk = F.call_function("approx_top_k_accumulate", F.col(item_col), cap)
    ranked = F.slice(
        F.array_sort(
            F.call_function("approx_top_k_estimate", F.col("__sk"), cap),
            _count_desc_item_asc,
        ),
        1,
        k,
    )
    return (
        df.groupBy(*keys)
        .agg(sk.alias("__sk"), F.count(F.lit(1)).alias("n_seen"))
        .select(*keys, "n_seen", F.posexplode(ranked).alias("__pos", "__e"))
        .select(
            *keys,
            (F.col("__pos") + 1).cast("int").alias("rank"),
            F.col("__e.item").alias(item_col),
            F.col("__e.count").cast("long").alias("n"),
            "n_seen",
        )
    )


def latest_state(
    df: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    value_cols: Sequence[str],
    delete_op: str = "D",
) -> DataFrame:
    """Streaming CDC compaction — the stream twin of
    :func:`my_cudf_spark.operators.cdc.apply_changelog`: per-key state is
    the single (seq, op, values) tuple with the highest sequence seen so
    far (ties by ``op_col`` descending, same contract as the batch
    operator); each micro-batch emits the keys it touched with their
    current state and an ``is_deleted`` flag, so a downstream MERGE sink
    (cdc.merge_upsert with ``delete_col="is_deleted"``) applies upserts
    and tombstones alike.  Arrival-order independent by construction —
    max-seq wins whatever the micro-batch boundaries.

    Streaming: ``max_by(struct(seq, op, *values), struct(seq, op))`` per
    key — Spark's native aggregation state, one row per key, partial
    aggregation map-side.  A NULL seq or op orders below every value, as
    in the twin's ``desc`` (nulls last); a NULL key is its own group.

    Batch frames take the exact keep-latest row_number twin with the SAME
    output schema (keys, seq, is_deleted, values) — the oracle for the
    stream's final snapshot."""
    keys = list(keys)
    value_cols = list(value_cols)
    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.desc(seq_col), F.desc(op_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                *keys,
                seq_col,
                (F.col(op_col) == delete_op).alias("is_deleted"),
                *value_cols,
            )
        )

    # positional field names: a value column may share a name with seq/op
    cols = [seq_col, op_col, *value_cols]
    row = F.struct(*[F.col(c).alias(f"c{i}") for i, c in enumerate(cols)])
    best = F.max_by(row, F.struct(seq_col, op_col)).alias("__best")
    return df.groupBy(*keys).agg(best).select(
        *keys,
        F.col("__best.c0").alias(seq_col),
        (F.col("__best.c1") == delete_op).alias("is_deleted"),
        *[F.col(f"__best.c{i}").alias(c) for i, c in enumerate(cols) if i > 1],
    )


def incremental_agg_totals(
    df: DataFrame,
    key_col: str,
    dsum_col: str,
    dn_col: str,
) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the stream
    twin of :func:`my_cudf_spark.operators.cdc.incremental_agg`: per-key
    (sum, count) folded from a CDC delta stream (insert → (+v, +1),
    delete → (−v, −1), update → (Δv, 0)).  Deltas are INTEGERS (the
    caller scales currency to cents), so per-key state is exact int64
    arithmetic and the folded snapshot is arrival-order and chunking
    independent — the batch view-maintenance identity holds on the
    stream.

    ``groupBy(key).agg(sum(ds), sum(dn), count(*))``: on a stream, Spark's
    native aggregation state, one row per key.  Emits the cumulative
    ``(key, total, n, version)`` per key a batch touches; version (delta
    rows seen for the key) is strictly monotone, so the final snapshot is
    the max-version row per key.

    SQL semantics: a NULL key is its own group; NULL deltas are skipped,
    and a key whose deltas are all NULL has a NULL ``total``/``n``.  The
    key keeps its INPUT type (string / decimal / integral keys all
    work)."""
    return df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.col(dsum_col).cast("long")).alias("total"),
        F.sum(F.col(dn_col).cast("long")).alias("n"),
        F.count(F.lit(1)).alias("version"),
    )
