"""Streaming approximate quantiles on Spark's native aggregation state.

The batch side has ``agg_approx_quantile`` (Spark ``percentile_approx``,
the same role as the reference's tdigest groupby aggregation —
``cpp/include/cudf/quantiles.hpp:130``, ``cpp/include/cudf/tdigest/``); a
latency/size-percentile dashboard over a stream needs the same estimate
updated per micro-batch.  ``percentile_approx`` is a mergeable
Greenwald-Khanna summary, so it runs as an update-mode streaming
aggregation: one state row per key in the native state store, partial
aggregation map-side, no Python worker — and batch and streaming frames
share one plan.

Contract (the suite's convention for probabilistic operators, same as
``agg_approx_quantile``): estimates are NEVER hash-compared.
``percentile_approx`` returns an actual data value whose rank is within
``1 / ACCURACY`` of the target; the registered query emits the exact
quantile plus a flag that the streamed estimate lies inside a ±eps rank
window around it, with eps far above that bound AND spanning at least one
inter-point gap.

Scale: each key's state is one compressed quantile summary whose size
grows with ``ACCURACY`` and only logarithmically with stream length; the
per-batch shuffle carries partial summaries, not raw rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["quantile_digest", "q_col_names"]

# percentile_approx accuracy: rank error ≤ 1/ACCURACY = 1e-4, two orders
# of magnitude inside the ±0.02 window the stream query checks.
ACCURACY = 10000


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
) -> DataFrame:
    """Per-key approximate quantiles: ``groupBy(keys).agg(count(*),
    percentile_approx(value, qs, ACCURACY))`` on batch and streaming
    frames alike.

    Output: ``keys…, n_seen bigint, <q-col per qs> double``.  NULL values
    are skipped (``n_seen`` counts non-null); a NULL key is its own group.
    Streaming emits the updated estimates for every touched key each
    micro-batch (final snapshot = the row with the key's maximal
    ``n_seen``).  Each estimate is a data value, so the median of two
    points is the lower one, not their midpoint."""
    keys = list(keys)
    qs = [float(q) for q in qs]
    if not qs or any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError("qs must be non-empty fractions in [0, 1]")
    qcols = q_col_names(qs)
    v = F.col(value_col).cast("double")
    g = df.filter(v.isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.percentile_approx(v, qs, ACCURACY).alias("__q"),
    )
    return g.select(
        *keys,
        "n_seen",
        *[F.element_at("__q", i + 1).alias(c) for i, c in enumerate(qcols)],
    )
