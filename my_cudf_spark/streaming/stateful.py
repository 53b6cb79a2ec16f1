"""Stateful streaming operators.

The reference has no stateful streaming machinery at all (SURVEY.md §2.12);
this is the Spark-native surface a user would reach for where the reference
would have hand-rolled a consumer loop over ``Consumer.read_gdf`` batches
(``custreamz/kafka.py``).

Aggregate-shaped state rides Spark's built-in streaming aggregation in
update mode — one ``UnsafeRow`` per key in the native state store, partial
aggregation map-side, no Python worker:

- ``running_totals``: per-key ``groupBy(keys).agg(count, sum)``;
- ``latest_state``: per-key keep-latest as ``max_by`` over ``(seq, op)``;
- ``incremental_agg_totals``: per-key ``sum``/``sum``/``count`` of CDC
  deltas.

Each emits the keys a micro-batch touched with their cumulative value, and
the identical plan on a batch frame is the oracle for the stream's final
state (``latest_state`` keeps its ``row_number`` batch twin).

``heavy_hitters`` is a per-key streaming top-k frequency sketch
(Space-Saving summary, Metwally et al. 2005) — state no SQL aggregate
expresses, so it keeps ``applyInPandasWithState``: bounded state of
``capacity`` (item, count, error) counters per key, merged batch-at-a-time
— the ``count_min``/top-k shape a 100 TB event pipeline keeps per entity
where exact per-item counts would be unbounded state.  When ``capacity``
>= the key's distinct item count the summary is EXACT (error 0), which is
how the fixture query earns a bit-exact SQL oracle; over capacity the
classic guarantee holds (count overestimates true frequency by at most
``error``, true top-k ⊆ summary for skewed streams).  Batch frames take
the exact groupBy + rank twin."""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# Arrow → pandas turns a NULL-bearing int64 column into float64/object,
# so a bucketed update that merges state rows (int lists from GroupState)
# against batch keys (floats) would raise on mismatched merge dtypes or
# fail to encode state arrays typed array<bigint>.  Normalizing BOTH
# frames to the pandas nullable dtype derived from the SPARK type keeps
# merge/groupby keys comparable and NULL keys representable — the bucketed
# paths (here and in quantiles, reservoir, scd2) then accept the same
# input domain as the per-key paths.
_PD_NULLABLE = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "boolean": "boolean",
    "string": "string",
}


def _norm_nullable(pdf: pd.DataFrame, types: dict[str, str]) -> pd.DataFrame:
    """Cast columns to their Spark-type-derived pandas nullable dtype
    (see _PD_NULLABLE); non-mapped types (double, timestamp…) pass
    through — their pandas representation is already null-stable."""
    for c, t in types.items():
        want = _PD_NULLABLE.get(t)
        if want is not None and str(pdf[c].dtype) != want:
            pdf[c] = pdf[c].astype(want)
    return pdf


def _plain_list(s: pd.Series) -> list:
    """Series → list with NA scalars as None (the Arrow state encoder
    accepts None, never pd.NA/NaN, inside typed state arrays)."""
    return [None if pd.isna(v) else v for v in s.tolist()]


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


def _space_saving_merge(
    summary: dict[str, list[int]], batch: dict[str, int], capacity: int
) -> None:
    """Merge one batch's item counts into a Space-Saving summary
    ({item: [count, error]}), in place.  Known items add exactly; new
    items fill free slots exactly; once full, each new item evicts the
    current minimum-count entry (ties to the lexicographically smallest)
    and inherits its count as the overestimate ``error``.  New items merge
    largest-first (count desc, item asc) so eviction order — and the
    summary — is deterministic."""
    for it in [i for i in batch if i in summary]:
        summary[it][0] += batch[it]
    for it in sorted(
        (i for i in batch if i not in summary), key=lambda i: (-batch[i], i)
    ):
        if len(summary) < capacity:
            summary[it] = [batch[it], 0]
        else:
            victim = min(summary, key=lambda j: (summary[j][0], j))
            floor_ = summary.pop(victim)[0]
            summary[it] = [floor_ + batch[it], floor_]


def heavy_hitters(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    k: int,
    capacity: int = 64,
    buckets: int | None = None,
) -> DataFrame:
    """Per-key top-``k`` most frequent ``item_col`` values.

    Streaming: a Space-Saving summary of ``capacity`` counters per key in
    applyInPandasWithState state (three parallel arrays + a seen counter —
    GroupState rows are flat structs, so the summary rides as
    array<item dtype>/array<long> columns, Arrow-encoded per micro-batch;
    the item column keeps its native dtype in state AND output, matching
    the batch twin's schema for any orderable atomic type).
    Each batch merges that batch's per-item counts: known items add
    exactly; new items fill free slots exactly; once full, a new item
    evicts the current minimum (inheriting its count as ``error`` — the
    classic overestimate bound).  New items merge in (count desc, item
    asc) order so the summary — and therefore the emitted rows — are
    deterministic for a deterministic replay.  Emits the current top-k
    (rank 1..k by count desc, item asc) plus ``n_seen`` (total items the
    key has seen), whose per-key maximum marks the final snapshot after a
    bounded drain.

    Batch: the exact groupBy count + row_number twin with the same output
    schema — the oracle for the streamed final state whenever ``capacity``
    covers the per-key distinct-item count.

    Scale: state is O(keys × capacity) regardless of stream length; the
    per-batch shuffle carries raw rows once (the groupBy), and emitted
    rows are k per touched key per batch.  ``buckets`` keys the state
    store on ``hash(keys) % buckets`` — one Python invocation per bucket
    per batch instead of one per key (the high-cardinality lever; the
    per-key Space-Saving merge order is unchanged, so the summary stays
    deterministic)."""
    keys = list(keys)
    if k < 1 or capacity < k:
        raise ValueError("require 1 <= k <= capacity")
    if not df.isStreaming:
        from pyspark.sql import Window

        # NULL items are not counted in either mode (the sketch drops them;
        # value_counts() semantics), so n_seen is the non-null item count.
        df = df.filter(F.col(item_col).isNotNull())
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

    if buckets is not None:
        return _heavy_hitters_bucketed(df, keys, item_col, k, capacity, buckets)

    key_fields = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in keys)
    # The item column keeps its NATIVE dtype in both output and state
    # (batch-twin oracle contract: identical schemas).  Items ride as dict
    # keys / sort keys in the summary, so any orderable Spark atomic type
    # works; numpy scalars from value_counts() are unwrapped to Python
    # natives before they enter state (Arrow state encoding).
    item_type = df.schema[item_col].dataType.simpleString()
    out_schema = (
        f"{key_fields}, rank int, {item_col} {item_type}, n bigint, n_seen bigint"
    )
    state_schema = (
        f"items array<{item_type}>, counts array<bigint>, errs array<bigint>,"
        " seen bigint"
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, errs, seen = state.get
            summary = {
                it: [int(c), int(e)] for it, c, e in zip(items, counts, errs)
            }
        else:
            summary, seen = {}, 0
        batch: dict[Any, int] = {}
        for pdf in pdfs:
            for it, n in pdf[item_col].dropna().value_counts().items():
                if hasattr(it, "item"):  # numpy scalar → Python native
                    it = it.item()
                batch[it] = batch.get(it, 0) + int(n)
                seen += int(n)
        _space_saving_merge(summary, batch, capacity)
        state.update(
            (
                list(summary.keys()),
                [v[0] for v in summary.values()],
                [v[1] for v in summary.values()],
                seen,
            )
        )
        top = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
        if not top:
            # A key whose batches so far held only NULL items has an empty
            # summary; pd.DataFrame([]) would carry ZERO columns, which the
            # applyInPandasWithState Arrow serializer rejects — emit a
            # typed empty frame instead.
            yield pd.DataFrame(columns=[*keys, "rank", item_col, "n", "n_seen"])
            return
        yield pd.DataFrame(
            [
                dict(zip(keys, key))
                | {"rank": r, item_col: it, "n": cnt[0], "n_seen": seen}
                for r, (it, cnt) in enumerate(top, start=1)
            ]
        )

    return df.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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


def _heavy_hitters_bucketed(
    df: DataFrame,
    keys: list[str],
    item_col: str,
    k: int,
    capacity: int,
    buckets: int,
) -> DataFrame:
    """Bucketed Space-Saving top-k: the bucket's per-key summaries ride as
    EXPLODED parallel arrays (key…, item, count, err) plus a per-key seen
    array; the per-key merge logic (_space_saving_merge) is unchanged, so
    the summary — and the emitted rows — stay deterministic."""
    if buckets < 1:
        raise ValueError("buckets must be positive")
    typ = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key_fields = ", ".join(f"{c} {typ[c]}" for c in keys)
    item_type = typ[item_col]
    out_schema = (
        f"{key_fields}, rank int, {item_col} {item_type}, n bigint, n_seen bigint"
    )
    state_schema = (
        ", ".join(f"sk{i} array<{typ[c]}>" for i, c in enumerate(keys))
        + f", sit array<{item_type}>, scnt array<bigint>, serr array<bigint>"
        + ", "
        + ", ".join(f"nk{i} array<{typ[c]}>" for i, c in enumerate(keys))
        + ", nseen array<bigint>"
    )
    nk = len(keys)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        summaries: dict[tuple, dict[Any, list[int]]] = {}
        seen: dict[tuple, int] = {}
        if state.exists:
            arrays = state.get
            for row in zip(*arrays[: nk + 3]):
                kt, it, c, e = row[:nk], row[nk], row[nk + 1], row[nk + 2]
                summaries.setdefault(kt, {})[it] = [int(c), int(e)]
            for row in zip(*arrays[nk + 3 :]):
                seen[row[:nk]] = int(row[nk])
        batch = [pdf for pdf in pdfs if len(pdf)]
        if not batch:
            yield pd.DataFrame(columns=[*keys, "rank", item_col, "n", "n_seen"])
            return
        b = _norm_nullable(
            pd.concat(batch, ignore_index=True), {k: typ[k] for k in keys}
        )
        touched = []
        for kt, grp in b.groupby(keys, dropna=False, sort=True):
            if not isinstance(kt, tuple):
                kt = (kt,)
            kt = tuple(
                None
                if pd.isna(v)
                else (v.item() if hasattr(v, "item") else v)
                for v in kt
            )
            counts = {}
            for it, n in grp[item_col].dropna().value_counts().items():
                if hasattr(it, "item"):
                    it = it.item()
                counts[it] = int(n)
            summary = summaries.setdefault(kt, {})
            _space_saving_merge(summary, counts, capacity)
            seen[kt] = seen.get(kt, 0) + sum(counts.values())
            touched.append(kt)
        flat_k = [[] for _ in range(nk)]
        flat_it, flat_c, flat_e = [], [], []
        for kt, summary in summaries.items():
            for it, (c, e) in summary.items():
                for i in range(nk):
                    flat_k[i].append(kt[i])
                flat_it.append(it)
                flat_c.append(c)
                flat_e.append(e)
        seen_k = [[kt[i] for kt in seen] for i in range(nk)]
        state.update(
            (*flat_k, flat_it, flat_c, flat_e, *seen_k, [seen[kt] for kt in seen])
        )
        rows = []
        for kt in touched:
            top = sorted(
                summaries[kt].items(), key=lambda kv: (-kv[1][0], kv[0])
            )[:k]
            rows.extend(
                dict(zip(keys, kt))
                | {"rank": r, item_col: it, "n": cnt[0], "n_seen": seen[kt]}
                for r, (it, cnt) in enumerate(top, start=1)
            )
        if not rows:
            yield pd.DataFrame(columns=[*keys, "rank", item_col, "n", "n_seen"])
            return
        yield pd.DataFrame(rows)

    bucket = F.pmod(F.hash(*[F.col(c) for c in keys]), F.lit(buckets))
    return (
        df.withColumn("__bkt", bucket)
        .groupBy("__bkt")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
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
