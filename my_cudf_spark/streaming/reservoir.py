"""Streaming weighted reservoir sampling (a k-row sample per key, bounded
state).

The sampling tier (operators/sampling.py) is batch-shaped: every sampler
is a pure function of the full corpus.  A curation STREAM needs the same
draw incrementally — keep a k-row weighted sample per key as events
arrive, without ever holding more than k rows of state per key.  The
Efraimidis–Spirakis order key makes that exact: the weighted sample IS
the k smallest priorities (``sampling.es_priority`` — content-derived,
no RNG), and "k smallest of a union" is an associative, commutative,
idempotent fold — so merging batches in ANY arrival order lands on the
same reservoir as the batch draw over the final corpus.  That algebraic
fact is what earns the stream an exact batch SQL oracle (the same
stream==batch contract the rest of streaming/ follows).

The reference has no streaming machinery at all (SURVEY.md §2.12;
custreamz kafka.py:82-176 is offset-range batch pulls) — this is
capability-superset territory, like streaming/quantiles.py.

Scale: state is O(keys × k), held per ``hash(keys) % buckets`` state row
by the Python-state kernel (:mod:`~my_cudf_spark.streaming.pystate`); the
priority is computed JVM-side BEFORE the stateful op (one md5 + ln per row
inside whole-stage codegen), so the bucket's fold only merges (priority,
item) pairs already ≤ batch size, and emits ≤ k rows per updated key per
batch.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.operators.sampling import es_priority, grouped_topn
from my_cudf_spark.streaming.pystate import bucket, frame, python_state

__all__ = ["weighted_reservoir"]


def weighted_reservoir(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    weight_col: str,
    k: int,
    salt: str = "res",
    buckets: int = 8,
) -> DataFrame:
    """Per-key weighted reservoir of size ``k`` (without replacement,
    inclusion ∝ weight), exact across micro-batches.

    Rows with NULL or non-positive weight carry no mass and are dropped
    (the ``weighted_sample`` contract).  ``item_col`` must be a bigint id
    unique per row — it keys the content-derived priority and breaks ties
    deterministically.

    Streaming frames return an UPDATE stream: each batch re-emits the
    updated keys' full reservoir snapshot as ``(*keys, rank, item,
    priority, n_seen)`` — ``n_seen`` (rows with mass seen so far, strictly
    increasing per emission) lets the consumer keep the latest snapshot.
    Batch frames return the identical draw via the two-phase
    ``grouped_topn`` (never a whole-key sort in one task), which is the
    oracle for the stream's final state.

    ``buckets``: the state store is keyed on ``hash(keys) % buckets``
    (:func:`~my_cudf_spark.streaming.pystate.bucket`), so a micro-batch
    pays one vectorized pandas fold per bucket, not one Python call per
    key; state stays O(keys × k) whatever the count.
    """
    keys = list(keys)
    if k < 1:
        raise ValueError("k must be positive")
    bkt = bucket(keys, buckets)
    qualified = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__prio", es_priority([item_col], weight_col, salt))

    if not df.isStreaming:
        out = grouped_topn(
            qualified, keys, [F.col("__prio"), F.col(item_col)], k, rank_out="rank"
        )
        totals = qualified.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_seen"))
        # Null-SAFE equi-join: the streaming state path keys NULL group
        # keys like any other value, so the batch oracle must too (a plain
        # equi-join would silently drop NULL-keyed reservoirs).
        cond = None
        for c in keys:
            term = out[c].eqNullSafe(totals[c])
            cond = term if cond is None else cond & term
        return out.join(totals, cond).select(
            *[out[c] for c in keys],
            F.col("rank").cast("int").alias("rank"),
            F.col(item_col).alias("item"),
            F.col("__prio").alias("priority"),
            "n_seen",
        )

    typ = {f.name: f.dataType.simpleString() for f in qualified.schema.fields}
    typ["__n"] = "bigint"
    # state = the bucket's kept reservoir rows, each carrying its key's
    # seen count, as parallel arrays (positional names: immune to
    # column-name collisions)
    cols = [*keys, "__prio", item_col, "__n"]
    state_schema = ", ".join(f"c{i} array<{typ[c]}>" for i, c in enumerate(cols))

    def step(_bkt, state, new):
        old = frame(cols, state, typ)
        allf = pd.concat(
            [old, frame(cols[:-1], [new[c] for c in cols[:-1]], typ)],
            ignore_index=True,
        )
        # one code per key; dropna=False makes a NULL key a key
        code = allf.groupby(keys, dropna=False, sort=False).ngroup().to_numpy()
        n = np.zeros(code.max() + 1, dtype=np.int64)
        n[code[: len(old)]] = old["__n"].to_numpy(np.int64)
        n += np.bincount(code[len(old) :], minlength=len(n))
        touched = np.zeros(len(n), dtype=bool)
        touched[code[len(old) :]] = True
        # reservoir: k smallest (prio, item) per key over state ∪ batch
        allf["__code"] = code
        kept = (
            allf.sort_values(["__prio", item_col], kind="mergesort")
            .groupby("__code", sort=False)
            .head(k)
        )
        kept = kept.assign(__n=n[kept["__code"]])
        out = kept[touched[kept["__code"]]]
        out = out.assign(rank=out.groupby("__code").cumcount() + 1).rename(
            columns={item_col: "item", "__prio": "priority", "__n": "n_seen"}
        )
        return [kept[c] for c in cols], out[[*keys, "rank", "item", "priority", "n_seen"]]

    return python_state(
        qualified.withColumn("__bkt", bkt),
        ["__bkt"],
        state_schema,
        ", ".join(f"{c} {typ[c]}" for c in keys)
        + ", rank int, item bigint, priority double, n_seen bigint",
        step,
    )
