"""Streaming approximate quantiles: a mergeable t-digest carried as
custom stateful streaming state (applyInPandasWithState).

The last batch-has/stream-lacks capability square (r5 verdict #1): batch
has ``agg_approx_quantile`` (Spark ``percentile_approx``, the same role as
the reference's tdigest groupby aggregation —
``cpp/include/cudf/quantiles.hpp:130``, ``cpp/include/cudf/tdigest/``),
but Spark exposes no approximate-quantile STREAMING aggregate — a
latency/size-percentile dashboard over a stream needs one.  This module
keeps a per-key t-digest (Dunning & Ertl 2019, arXiv:1902.04023 — the
merging-digest construction) in GroupState and emits updated quantile
estimates each micro-batch.

Digest mechanics (pure numpy, deterministic):

- a digest is (means[], weights[]) sorted by mean, bounded by the
  ``delta`` compression parameter;
- ``_compress`` assigns each (mean, weight) pair its mid-rank
  q = (cumsum(w) - w/2) / W, bins by ⌊k(q)⌋ with the arcsine scale
  k(q) = δ/(2π)·asin(2q−1), and merges each bin to its weighted mean —
  the scale function concentrates resolution at the tails, so the digest
  holds ≤ ~δ/2 + 2 centroids with rank error O(q(1−q)/δ);
- merging a micro-batch = concatenate raw values (weight 1) with the
  state centroids and re-compress — the associative merge that makes the
  sketch stream-legal (and shuffle-legal: partials combine the same way);
- ``_estimate`` linearly interpolates the target rank between centroid
  mid-rank positions (clamped to the extreme means at the tails).

Contract (the suite's convention for probabilistic operators, same as
``agg_approx_quantile``): estimates are NEVER hash-compared — the
registered query emits the exact quantile plus a flag that the streamed
estimate lies inside a ±eps rank window around it, with eps chosen far
above the digest's error bound AND spanning at least one inter-point gap.

Scale: state is O(keys × δ) regardless of stream length; the per-batch
shuffle carries raw rows once (the groupBy).  ``buckets`` keys the state
store on ``hash(keys) % buckets`` — one vectorized Python invocation per
bucket per batch instead of one per key (the r5 high-cardinality lever;
per-key digests and merge order are unchanged, so results are identical).
Batch frames take the EXACT per-key percentile twin with the same output
schema — the oracle for the streamed estimates' rank contract.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from my_cudf_spark.streaming.stateful import _norm_nullable

__all__ = ["quantile_digest", "q_col_names"]


def _k_scale(q: np.ndarray, delta: float) -> np.ndarray:
    """Arcsine scale function k(q) = δ/(2π)·asin(2q−1)."""
    return delta / (2.0 * np.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """One merging-digest pass: sort by (mean, weight), bin by
    ⌊k(mid-rank)⌋, merge each bin to its weighted mean.  The (mean,
    weight) sort key is CANONICAL — equal-mean centroids order by weight,
    never by arrival position — so the output depends only on the input
    centroid MULTISET: per-key/bucketed paths and replays of the same
    micro-batch contents produce bit-identical digests regardless of row
    order.  Output sorted by mean with ≤ ~δ/2 + 2 centroids."""
    if means.size == 0:
        return means, weights
    order = np.lexsort((weights, means))
    m, w = means[order], weights[order]
    total = w.sum()
    q_mid = (np.cumsum(w) - 0.5 * w) / total
    bins = np.floor(_k_scale(q_mid, delta)).astype(np.int64)
    # group consecutive equal bins (bins are monotone in q)
    _, idx = np.unique(bins, return_index=True)
    seg = np.zeros(len(m), dtype=np.int64)
    seg[idx] = 1
    seg = np.cumsum(seg) - 1
    n_out = seg[-1] + 1
    out_w = np.bincount(seg, weights=w, minlength=n_out)
    out_m = np.bincount(seg, weights=m * w, minlength=n_out) / out_w
    return out_m, out_w


def _estimate(means: np.ndarray, weights: np.ndarray, qs: Sequence[float]) -> list[float]:
    """Interpolate target ranks between centroid mid-rank positions."""
    total = weights.sum()
    cum = np.cumsum(weights) - 0.5 * weights
    targets = np.asarray(qs, dtype=np.float64) * total
    return [float(v) for v in np.interp(targets, cum, means)]


def q_col_names(qs: Sequence[float]) -> list[str]:
    """Output column per quantile: 0.5 → ``q50`` (permille when needed:
    0.995 → ``q995p``)."""
    names = []
    for q in qs:
        pct = q * 100
        names.append(
            f"q{int(round(pct))}" if abs(pct - round(pct)) < 1e-9
            else f"q{int(round(q * 1000))}p"
        )
    if len(set(names)) != len(names):
        raise ValueError(f"quantile labels collide: {names}")
    return names


def quantile_digest(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    delta: int = 300,
    buckets: int | None = None,
) -> DataFrame:
    """Per-key streaming quantile estimates from a mergeable t-digest.

    Output: ``keys…, n_seen bigint, <q-col per qs> double`` — streaming
    emits the updated estimates for every touched key each micro-batch
    (final snapshot = the row with the key's maximal ``n_seen``); batch
    frames return the EXACT per-key percentiles in the same schema (NULL
    values are skipped in both modes — ``n_seen`` counts non-null)."""
    keys = list(keys)
    qs = [float(q) for q in qs]
    if not qs or any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError("qs must be non-empty fractions in [0, 1]")
    qcols = q_col_names(qs)
    if not df.isStreaming:
        arr = ", ".join(f"{q}D" for q in qs)
        g = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.expr(f"percentile({value_col}, array({arr}))").alias("__q"),
        )
        return g.select(
            *keys,
            "n_seen",
            *[F.element_at("__q", i + 1).alias(c) for i, c in enumerate(qcols)],
        )
    if buckets is not None:
        return _quantile_digest_bucketed(
            df, keys, value_col, qs, qcols, delta, buckets
        )

    typ = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key_fields = ", ".join(f"{k} {typ[k]}" for k in keys)
    out_schema = (
        f"{key_fields}, n_seen bigint, "
        + ", ".join(f"{c} double" for c in qcols)
    )
    state_schema = "m array<double>, w array<double>, n bigint"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            sm, sw, n = state.get
            m = np.asarray(sm, dtype=np.float64)
            w = np.asarray(sw, dtype=np.float64)
        else:
            m = w = np.empty(0, dtype=np.float64)
            n = 0
        vals = [pdf[value_col].dropna().to_numpy(np.float64) for pdf in pdfs]
        new = np.concatenate(vals) if vals else np.empty(0)
        if new.size:
            n += int(new.size)
            m, w = _compress(
                np.concatenate([m, new]),
                np.concatenate([w, np.ones(new.size)]),
                delta,
            )
        state.update((m.tolist(), w.tolist(), n))
        if n == 0:
            # only-NULL batches: nothing estimable yet — typed empty frame
            # (the Arrow serializer rejects a zero-column frame)
            yield pd.DataFrame(columns=[*keys, "n_seen", *qcols])
            return
        est = _estimate(m, w, qs)
        yield pd.DataFrame(
            [dict(zip(keys, key)) | {"n_seen": n} | dict(zip(qcols, est))]
        )

    return df.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _quantile_digest_bucketed(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    qs: list[float],
    qcols: list[str],
    delta: int,
    buckets: int,
) -> DataFrame:
    """Bucketed digests: state keyed on hash(keys) % buckets; the bucket's
    per-key digests ride as EXPLODED parallel arrays (key…, mean, weight)
    plus a per-key n array — one Python invocation per bucket per batch
    (same layout discipline as the bucketed Space-Saving state)."""
    if buckets < 1:
        raise ValueError("buckets must be positive")
    typ = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key_fields = ", ".join(f"{k} {typ[k]}" for k in keys)
    out_schema = (
        f"{key_fields}, n_seen bigint, "
        + ", ".join(f"{c} double" for c in qcols)
    )
    state_schema = (
        ", ".join(f"dk{i} array<{typ[k]}>" for i, k in enumerate(keys))
        + ", dm array<double>, dw array<double>, "
        + ", ".join(f"nk{i} array<{typ[k]}>" for i, k in enumerate(keys))
        + ", nn array<bigint>"
    )
    nk = len(keys)
    key_types = {k: typ[k] for k in keys}

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        digests: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
        n_seen: dict[tuple, int] = {}
        if state.exists:
            arrays = state.get
            # Restored Arrow arrays round-trip through pandas: an Int key
            # array holding None coerces to float64 (1 -> 1.0) unless
            # re-normalized to the Spark-derived nullable dtype (see
            # stateful._norm_nullable).
            cent = _norm_nullable(
                pd.DataFrame(
                    {
                        **{f"k{i}": arrays[i] for i in range(nk)},
                        "m": arrays[nk],
                        "w": arrays[nk + 1],
                    }
                ),
                {f"k{i}": typ[k] for i, k in enumerate(keys)},
            )
            for kt, grp in cent.groupby([f"k{i}" for i in range(nk)], dropna=False):
                if not isinstance(kt, tuple):
                    kt = (kt,)
                # plain Python scalars (same as the batch path): these key
                # values flow back INTO state.update, and numpy scalars
                # don't survive the state pickle round-trip to the JVM
                kt = tuple(
                    None
                    if pd.isna(v)
                    else (v.item() if hasattr(v, "item") else v)
                    for v in kt
                )
                digests[kt] = (
                    grp["m"].to_numpy(np.float64),
                    grp["w"].to_numpy(np.float64),
                )
            seen_pdf = _norm_nullable(
                pd.DataFrame(
                    {
                        **{
                            f"k{i}": arrays[nk + 2 + i]
                            for i in range(nk)
                        },
                        "n": arrays[nk + 2 + nk],
                    }
                ),
                {f"k{i}": typ[k] for i, k in enumerate(keys)},
            )
            for row in seen_pdf.itertuples(index=False):
                kt = tuple(
                    None
                    if pd.isna(v)
                    else (v.item() if hasattr(v, "item") else v)
                    for v in row[:nk]
                )
                n_seen[kt] = int(row[nk])
        batch = [pdf for pdf in pdfs if len(pdf)]
        if not batch:
            yield pd.DataFrame(columns=[*keys, "n_seen", *qcols])
            return
        b = _norm_nullable(pd.concat(batch, ignore_index=True), key_types)
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
            new = grp[value_col].dropna().to_numpy(np.float64)
            if not new.size:
                continue
            m, w = digests.get(kt, (np.empty(0), np.empty(0)))
            digests[kt] = _compress(
                np.concatenate([m, new]),
                np.concatenate([w, np.ones(new.size)]),
                delta,
            )
            n_seen[kt] = n_seen.get(kt, 0) + int(new.size)
            touched.append(kt)
        flat_k = [[] for _ in range(nk)]
        flat_m: list[float] = []
        flat_w: list[float] = []
        for kt, (m, w) in digests.items():
            for i in range(nk):
                flat_k[i].extend([kt[i]] * len(m))
            flat_m.extend(m.tolist())
            flat_w.extend(w.tolist())
        seen_k = [[kt[i] for kt in n_seen] for i in range(nk)]
        state.update(
            (*flat_k, flat_m, flat_w, *seen_k, [n_seen[kt] for kt in n_seen])
        )
        if not touched:
            yield pd.DataFrame(columns=[*keys, "n_seen", *qcols])
            return
        rows = []
        for kt in touched:
            m, w = digests[kt]
            est = _estimate(m, w, qs)
            rows.append(
                dict(zip(keys, kt)) | {"n_seen": n_seen[kt]} | dict(zip(qcols, est))
            )
        yield pd.DataFrame(rows)

    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(buckets))
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
