"""Streaming pretraining-pipeline state carriers — the two stateful
operators the batch flagship (queries/pipeline_queries.pipeline_pretrain*)
needs to run as a continuous pipeline instead of a nightly batch:

- :func:`stream_exact_dedup_min` — cross-batch exact content dedup with
  the BATCH keep-rule (minimum id per content hash), not first-arrival:
  Spark's ``dropDuplicates`` keeps whichever duplicate a micro-batch
  happens to deliver first, which makes doc-level output depend on
  chunking; keep-min is a pure function of the final (hash, id) set, so
  the drained survivor set equals the batch window
  ``row_number() over (partition by hash order by id) = 1`` exactly —
  the same order-independence contract as streaming/annindex.py.
- :func:`stream_pack_bestfit` — the no-split harmonic size-class packer
  (operators/packing.pack_bestfit) with cross-batch carry state: size
  class and shard are pure projections (streaming-legal), so the state
  is CLASS-LOCAL — each (size_class, shard) bucket holds its member
  (count, id) pairs and re-derives its row_number packing whenever a
  batch touches it, emitting the bucket's full reassignment as a
  monotone-versioned snapshot.  The max-version snapshot per bucket is
  again a pure function of the final member set and equals the batch
  ``pack_bestfit`` assignment bit-for-bit (same (count DESC, id) order,
  same ``rn // k`` / ``rn % k`` arithmetic).

Scale: dedup state is (hash, min-id) pairs — O(distinct contents), the
same bound as Spark's own streaming Deduplicate but with the
deterministic keep-rule; packer state is doc-level (count, id) metadata
per (class, shard) — the ``shards`` knob bounds any single bucket, and
re-emission volume is the touched bucket's membership, the
posting-list-snapshot convention.  Neither carries text or token ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = ["stream_exact_dedup_min", "stream_pack_bestfit"]


def stream_exact_dedup_min(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    buckets: int = 8,
) -> DataFrame:
    """Cross-batch exact dedup over (id, content-hash) rows, keep-rule =
    MINIMUM id per hash.  Emits ``(h, keep_id)`` for every hash a
    micro-batch touches; per hash the emitted keep_id is non-increasing,
    so the final survivor set is ``min(keep_id) group by h`` — a pure
    function of the final row set (chunking / arrival-order / redelivery
    independent)."""
    rows = df.select(
        F.col(hash_col).cast("string").alias("__h"),
        F.col(id_col).cast("long").alias("__id"),
    ).withColumn("__bkt", bucket(["__h"], buckets))

    def step(_bkt, state, new):
        # fixed-width unicode (not object) — np.lexsort/searchsorted need a
        # sortable dtype; concat promotes to the wider width
        new_h = np.asarray(new["__h"].tolist(), dtype=np.str_)
        allh = np.concatenate([state[0].astype(np.str_), new_h])
        allid = np.concatenate([state[1], new["__id"].to_numpy(np.int64)])
        # hash-major, id-minor sort → min id per hash is the first row of
        # each hash run; state stays canonical (one row per hash)
        order = np.lexsort((allid, allh))
        allh, allid = allh[order], allid[order]
        first = np.ones(len(allh), dtype=bool)
        first[1:] = allh[1:] != allh[:-1]
        hs, ids = allh[first], allid[first]
        touched = np.unique(new_h)
        out = pd.DataFrame({"h": touched, "keep_id": ids[np.searchsorted(hs, touched)]})
        return (hs, ids), out

    return python_state(
        rows,
        ["__bkt"],
        "hs array<string>, ids array<long>",
        "h string, keep_id long",
        step,
    )


def stream_pack_bestfit(
    df: DataFrame,
    id_col: str,
    count_col: str,
    budget: int,
    shards: int = 1,
) -> DataFrame:
    """The no-split packer ON A STREAM — identical assignment arithmetic
    to :func:`~my_cudf_spark.operators.packing.pack_bestfit` (harmonic
    size class ``k = floor(budget / n)``, within (class, shard) order by
    (count DESC, id), ``pack_idx = rn // k``, ``slot = rn % k``), with
    the (class, shard) membership carried as cross-batch state.

    Every micro-batch that touches a bucket re-derives the bucket's full
    packing over its retained membership and emits it as one snapshot
    versioned by the membership size ``n`` (strictly increasing on new
    ids) — keep the max-``n`` snapshot per (size_class, shard) and the
    drained result equals the batch packer on the full input, whatever
    the chunking.  Late/re-delivered documents are absorbed exactly like
    stream_funnel's late events: the greedy assignment recomputes over
    retained state, never over re-scanned history.

    Rows with ``count <= 0`` are dropped (the batch contract);
    ``id_col`` must be integral (shard pmod arithmetic)."""
    if budget <= 0 or shards <= 0:
        raise ValueError("budget and shards must be positive")
    if not isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        raise TypeError(
            f"stream_pack_bestfit id_col must be an integral type, got "
            f"{df.schema[id_col].dataType.simpleString()} (the shard "
            f"arithmetic is pmod on the id — hash a string id first)"
        )
    cls = F.when(F.col(count_col) > budget, F.lit(0)).otherwise(
        F.floor(F.lit(budget) / F.col(count_col))
    )
    rows = (
        df.filter(F.col(count_col) > 0)
        .select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(count_col).cast("long").alias("__n"),
            cls.cast("long").alias("__cls"),
            F.pmod(F.col(id_col), F.lit(shards)).cast("long").alias("__shard"),
        )
    )

    def step(key, state, new):
        size_class, shard = int(key[0]), int(key[1])
        ids = np.concatenate([state[0], new["__id"].to_numpy(np.int64)])
        cnts = np.concatenate([state[1], new["__n"].to_numpy(np.int64)])
        # redelivery collapses (counts are a pure function of the id);
        # unique() leaves the state sorted by id
        ids, at = np.unique(ids, return_index=True)
        cnts = cnts[at]
        # the batch pack_bestfit order: count DESC, id ASC
        order = np.lexsort((ids, -cnts))
        per_pack = max(1, size_class)
        rn = np.arange(len(ids), dtype=np.int64)
        out = pd.DataFrame(
            {
                "id": ids[order],
                "size_class": size_class,
                "shard": shard,
                "pack_idx": rn // per_pack,
                "slot": (rn % per_pack).astype(np.int32),
                "version": len(ids),
            }
        )
        return (ids, cnts), out

    return python_state(
        rows,
        ["__cls", "__shard"],
        "ids array<long>, cnts array<long>",
        "id long, size_class long, shard long, pack_idx long, slot int, version long",
        step,
    )
