"""Streaming point-in-time enrichment — the stream twin of
:func:`my_cudf_spark.operators.joins.pit_join`, completing the PIT family
batch + stream the way every dedup modality has both legs.

A single event stream carries SPINE rows (the rows to enrich, e.g.
purchases) and FEATURE rows (the history to enrich from, e.g. views /
clicks) interleaved in ARRIVAL order, which is not event-time order: a
feature row may arrive after a spine row it should have informed
(``feature.ts <= spine.ts``).  Point-in-time semantics are a pure function
of event time, so the operator achieves arrival-order independence by
CORRECTION — the :mod:`semdedup`/:mod:`phash` revocation idea applied to
values: every micro-batch that touches an entity re-emits ALL of that
entity's spine rows with enrichment recomputed over the full feature
history seen so far, stamped with a per-entity monotone ``version``.  The
highest-version emission per spine id therefore equals the batch
:func:`pit_join` over the complete history, whatever the micro-batch
boundaries (stream == batch, tested under multiple chunkings + a planted
late-arrival correction).

State per entity is its spine rows + the feature rows of the requested
kinds — O(events per entity over the retention horizon), the same bound
as the streaming dedup family's per-key corpora.  Production deployments
bound it with the watermark: once no spine row older than the watermark
can arrive, feature history older than the oldest pending spine freezes
and compacts to one latest-row per kind (not needed for bounded replays;
documented as the 100 TB lever).  Enrichment inside the Arrow batch is
vectorized numpy (``searchsorted`` over per-kind sorted timestamps — the
in-memory as-of), never per-row Python over the stream.

A BATCH frame takes the exact :func:`pit_join` composition with the same
output schema minus ``version`` — the oracle for the stream's final
snapshot.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.streaming.pystate import python_state

__all__ = ["stream_pit_enrich"]


def stream_pit_enrich(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    kind_col: str,
    id_col: str,
    value_col: str,
    spine_kind: str,
    value_kinds: Sequence[str],
    count_kinds: Sequence[str],
) -> DataFrame:
    """Enrich ``spine_kind`` rows with the latest at-or-before ``value_col``
    of each kind in ``value_kinds`` (output ``{kind}_value``) and the
    running at-or-before count of each kind in ``count_kinds`` (output
    ``n_{kind}``, 0 when none) — see module docstring.

    Streaming frames emit ``(id_col, *enrichment, version)`` per touched
    entity per micro-batch; take the max-version row per id for the final
    snapshot.  Batch frames return the :func:`pit_join` equivalent without
    ``version`` (the oracle).  ``(key, ts)`` must be unique per kind
    (the as-of tie contract shared with the batch operator).
    """
    value_kinds = list(value_kinds)
    count_kinds = list(count_kinds)
    if not value_kinds and not count_kinds:
        raise ValueError("need at least one value or count kind")
    feat_kinds = sorted(set(value_kinds) | set(count_kinds))
    kind_idx = {k: i for i, k in enumerate(feat_kinds)}

    if not df.isStreaming:
        from pyspark.sql import Window

        from my_cudf_spark.operators.joins import pit_join

        spine = df.filter(F.col(kind_col) == spine_kind).select(
            F.col(id_col), F.col(ts_col), F.col(key_col)
        )
        feats: dict[str, DataFrame] = {}
        wcum = (
            Window.partitionBy(key_col)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for k in feat_kinds:
            base = df.filter(F.col(kind_col) == k)
            cols = [F.col(key_col), F.col(ts_col)]
            if k in value_kinds:
                cols.append(F.col(value_col).alias("value"))
            feat = base.select(*cols)
            if k in count_kinds:
                feat = feat.withColumn("n", F.count(F.lit(1)).over(wcum))
            feats[k] = feat
        out = pit_join(spine, feats, on=ts_col, by=[key_col])
        sel = [F.col(id_col)]
        sel += [F.col(f"{k}_value") for k in value_kinds]
        sel += [
            F.coalesce(F.col(f"{k}_n"), F.lit(0)).cast("long").alias(f"n_{k}")
            for k in count_kinds
        ]
        return out.select(*sel)

    ts_type = df.schema[ts_col].dataType.typeName()
    ts_us = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        if ts_type.startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    kinds_wanted = [spine_kind] + feat_kinds
    prepped = (
        df.filter(F.col(kind_col).isin(kinds_wanted))
        .select(
            F.col(key_col).alias("__key"),
            ts_us.alias("__ts"),
            F.when(F.col(kind_col) == spine_kind, F.lit(-1))
            .otherwise(
                # kind index via a literal CASE chain (tiny, codegen-side)
                F.coalesce(
                    *[
                        F.when(F.col(kind_col) == k, F.lit(i))
                        for k, i in kind_idx.items()
                    ]
                )
            )
            .alias("__kind"),
            F.col(id_col).cast("long").alias("__id"),
            F.col(value_col).cast("double").alias("__val"),
        )
    )

    out_schema = ", ".join(
        [f"{id_col} long"]
        + [f"{k}_value double" for k in value_kinds]
        + [f"n_{k} long" for k in count_kinds]
        + ["version long"]
    )

    def step(_key, state, new):
        sp_ids, sp_ts, ft_kind, ft_ts, ft_val, version = state
        version = (version or 0) + 1
        is_spine = new["__kind"].to_numpy() == -1
        ft = new.loc[~is_spine]
        sp_ids = np.concatenate([sp_ids, new.loc[is_spine, "__id"].to_numpy(np.int64)])
        sp_ts = np.concatenate([sp_ts, new.loc[is_spine, "__ts"].to_numpy(np.int64)])
        ft_kind = np.concatenate([ft_kind, ft["__kind"].to_numpy(np.int32)])
        ft_ts = np.concatenate([ft_ts, ft["__ts"].to_numpy(np.int64)])
        ft_val = np.concatenate([ft_val, ft["__val"].to_numpy(np.float64)])
        out = pd.DataFrame({id_col: sp_ids})
        for k in value_kinds:
            mask = ft_kind == kind_idx[k]
            order = np.argsort(ft_ts[mask], kind="stable")
            pos = np.searchsorted(ft_ts[mask][order], sp_ts, side="right") - 1
            # a trailing NaN answers position -1 (no feature at or before)
            out[f"{k}_value"] = np.append(ft_val[mask][order], np.nan)[pos]
        for k in count_kinds:
            kts = np.sort(ft_ts[ft_kind == kind_idx[k]])
            out[f"n_{k}"] = np.searchsorted(kts, sp_ts, side="right").astype(np.int64)
        out["version"] = version
        return (sp_ids, sp_ts, ft_kind, ft_ts, ft_val, version), out

    return python_state(
        prepped,
        ["__key"],
        "sp_ids array<long>, sp_ts array<long>, ft_kind array<int>,"
        " ft_ts array<long>, ft_val array<double>, version long",
        out_schema,
        step,
    )
