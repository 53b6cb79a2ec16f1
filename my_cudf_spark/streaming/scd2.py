"""Streaming SCD2 dimension maintenance — the stream twin of
:func:`my_cudf_spark.operators.cdc.scd2_apply`, closing the one
batch↔stream parity cell the lakehouse tier was missing (compaction has
``stateful.latest_state``, incremental aggregation has
``stateful.incremental_agg_totals``; dimension versioning had no
cross-batch carrier).

The reference has no mutation surface at all (closest primitives:
``cudf::scatter`` / boolean-mask updates, cpp/include/cudf/copying.hpp:30)
and no streaming machinery (SURVEY.md §2.12); a continuously-fed
dimension — entity metadata trickling out of a CDC feed while training
pipelines read point-in-time snapshots — needs the SCD2 fold to run ON
the stream.

Semantics: the drained dimension equals folding the full change-event
history in effective-time order — per key, collapse consecutive
equal-attribute events (no-op echoes version nothing), then each kept
event opens a version ``[eff, next kept eff)``; the last is open
(``valid_to`` NULL, ``is_current`` true).  This is exactly what
iterating batch ``scd2_apply`` over in-order single-change batches
produces, and it is well-defined even for OUT-OF-ORDER arrivals (a late
event splits the version interval it lands in — stronger than the batch
operator, which assumes in-order application).

Chunking independence (the monotone-snapshot convention shared with
annindex posting lists and pretrain pack state): per-key state is the
exact-deduplicated set of change events seen so far, and each emission
is the key's FULL derived version history stamped with ``n_events``
(strictly growing per key).  The final snapshot — max ``n_events`` per
key — is a pure function of the final event SET, so micro-batch
boundaries, arrival order, and at-least-once redelivery all drain to
the identical table and the batch SQL fold is the oracle verbatim.

Scale: state is O(change events per key) — the SCD2 history itself,
i.e. the artifact the operator exists to retain; nothing corpus-sized.
``buckets`` keys the state store on ``hash(keys) % buckets`` so each
micro-batch pays one vectorized pandas fold per bucket, not one Python
invocation per dimension key (a version history is not an aggregate, so
unlike ``latest_state`` it cannot ride native aggregation state).  Emission
volume is touched-history per batch — bounded by batches × history; a
production deployment with an in-order feed would emit closed/opened
version deltas instead, but snapshot emission is what makes the drained
result a pure set function (a late event can SPLIT or MERGE versions it
arrives between, which delta emission cannot retract).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.streaming.pystate import bucket, frame, python_state

__all__ = ["scd2_history"]


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    eff_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Fold a stream of change events ``(keys, attrs, eff)`` into the
    type-2 slowly-changing dimension they describe (see module
    docstring).  Output per emission: ``keys…, attr_cols…, valid_from,
    valid_to, is_current, n_events`` — ``valid_from``/``valid_to`` carry
    ``eff_col``'s type (on streams use an epoch number and convert after
    the drain; Arrow state round-trips numerics losslessly), ``n_events``
    is the per-key monotone snapshot version (total events seen), so the
    final dimension is the max-``n_events`` snapshot per key.

    CONTRACT: ``(keys, eff)`` identifies an event — two events on the
    same key at the same effective time with different attributes have
    no defined fold order and raise; exact duplicates (redelivery)
    collapse.  Batch frames take the equivalent window fold (lag-struct
    collapse + lead valid_to) with the same output schema — the oracle
    for the drained stream."""
    keys = list(keys)
    attr_cols = list(attr_cols)
    bkt = bucket(keys, buckets)
    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(eff_col)
        cur = F.struct(*[F.col(a) for a in attr_cols])
        # lag of a struct is NULL only on the first row (a struct value
        # is never NULL itself), so ~eqNullSafe keeps first rows AND
        # attr changes in one expression
        d = df.withColumn(
            "n_events",
            F.count(F.lit(1)).over(Window.partitionBy(*keys)),
        ).withColumn("__keep", ~F.lag(cur).over(w).eqNullSafe(cur))
        kept = d.filter(F.col("__keep"))
        wk = Window.partitionBy(*keys).orderBy(eff_col)
        return kept.select(
            *keys,
            *attr_cols,
            F.col(eff_col).alias("valid_from"),
            F.lead(eff_col).over(wk).alias("valid_to"),
            F.lead(eff_col).over(wk).isNull().alias("is_current"),
            F.col("n_events").cast("long").alias("n_events"),
        )

    typ = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = [*keys, eff_col, *attr_cols]
    out_cols = [*keys, *attr_cols, "valid_from", "valid_to", "is_current", "n_events"]
    out_schema = (
        ", ".join(f"{k} {typ[k]}" for k in keys)
        + (", " + ", ".join(f"{a} {typ[a]}" for a in attr_cols) if attr_cols else "")
        + f", valid_from {typ[eff_col]}, valid_to {typ[eff_col]}"
        + ", is_current boolean, n_events long"
    )
    # state = the bucket's full event set as parallel arrays (positional
    # names: column identity is the `cols` order, immune to collisions)
    state_schema = ", ".join(f"c{i} array<{typ[c]}>" for i, c in enumerate(cols))

    def _null_safe_eq(a: pd.Series, b: pd.Series) -> pd.Series:
        return (a.eq(b) | (a.isna() & b.isna())).fillna(False).astype(bool)

    def step(_bkt, state, new):
        batch = frame(cols, [new[c] for c in cols], typ)
        allf = (
            pd.concat([frame(cols, state, typ), batch], ignore_index=True)
            .drop_duplicates(cols)  # exact redelivery collapses
            .sort_values([*keys, eff_col], kind="mergesort")
            .reset_index(drop=True)
        )
        if allf.duplicated([*keys, eff_col]).any():
            raise ValueError(
                "scd2_history: two events on the same key at the same "
                "effective time with different attributes — fold order "
                "undefined (pre-compact the feed, e.g. apply_changelog)"
            )

        # consecutive-equal-attr collapse (null-safe, against the
        # ORIGINAL previous event — equality is transitive within runs)
        same_key = pd.Series(True, index=allf.index)
        for k in keys:
            same_key &= _null_safe_eq(allf[k], allf[k].shift())
        same_attrs = pd.Series(True, index=allf.index)
        for a in attr_cols:
            same_attrs &= _null_safe_eq(allf[a], allf[a].shift())
        kept = allf[~(same_key & same_attrs)].copy()

        # valid_to = next kept event's eff within the key (frames are
        # key-sorted, so shift(-1) + same-key mask avoids groupby
        # NA-key dropping)
        nxt_same = pd.Series(True, index=kept.index)
        for k in keys:
            nxt_same &= _null_safe_eq(kept[k], kept[k].shift(-1))
        kept["valid_from"] = kept[eff_col]
        kept["valid_to"] = kept[eff_col].shift(-1).where(nxt_same)
        kept["is_current"] = ~nxt_same

        n_ev = (
            allf.groupby(keys, dropna=False)
            .size()
            .rename("n_events")
            .reset_index()
        )
        kept = kept.merge(n_ev, on=keys)
        out = kept.merge(batch[keys].drop_duplicates(), on=keys)
        out["n_events"] = out["n_events"].astype("int64")
        return [allf[c] for c in cols], out[out_cols]

    return python_state(
        df.withColumn("__bkt", bkt), ["__bkt"], state_schema, out_schema, step
    )
