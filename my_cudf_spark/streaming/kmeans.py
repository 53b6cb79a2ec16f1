"""Streaming cluster sufficient statistics — the incremental Lloyd M-step
(and the maintenance loop of an IVF ANN index) over a vector stream,
closing the clustering × stream cell next to the batch
:func:`my_cudf_spark.operators.similarity.lloyd_kmeans`.

Each arriving vector is assigned to a FIXED, data-independent anchor cell
— its sign-bit signature against the md5-derived Rademacher hyperplanes
of :func:`~my_cudf_spark.operators.similarity.md5_rademacher_planes`
(table 0), the same deterministic partition the LSH ANN path uses — and
the per-cell sufficient statistics (count, per-dimension sum) accumulate
as cross-batch state.  Draining the stream yields each cell's exact mean
vector: the centroid update a Lloyd iteration (or an IVF re-centering
pass) computes, WITHOUT ever re-scanning history.

Order independence is exactness: sums of integers commute.  Vector
components enter as ROUND(x·1e9) nano-units (computed JVM-side with
Spark's half-away-from-zero ``round``, matching SQL), so per-cell sums
are bounded int64 arithmetic with no float drift, the final state is
independent of arrival order AND chunking, and the DuckDB batch twin
reproduces every mean bit-for-bit.

Scale: state is one (count, dim-length sums) row per cell — O(cells·dim)
regardless of stream length; per-batch work is one signature pass over
new rows plus one state add per touched cell.  Anchors being
data-independent is what makes the stream exact (data-seeded centroids
would arrive late and invalidate earlier assignments); a full streaming
Lloyd loop alternates this M-step with an anchor refresh between
deployments, each refresh consuming the previous drain's means.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from my_cudf_spark.operators.similarity import md5_rademacher_planes
from my_cudf_spark.streaming.pystate import python_state

__all__ = ["stream_cluster_stats"]


def stream_cluster_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int = 4,
) -> DataFrame:
    """Streaming per-cell (count, per-dim nano-unit sums) over (id, vec)
    rows — see module docstring.  Emits the cumulative ``(cell, n,
    sums)`` snapshot for every cell touched by a micro-batch; ``n`` is
    strictly increasing per cell, so the final state is the max-``n``
    emission per cell."""
    planes = md5_rademacher_planes(dim, bits, tables=1)  # (bits, dim)
    powers = 1 << np.arange(bits)

    def _cells(vecs):
        X = np.stack(vecs.to_numpy())
        # round-before-compare at the sign boundary (the repo's round(·,9)
        # convention): the oracle computes SUM(x·w) in its own order, so an
        # unrounded near-zero projection could land in different cells
        # across engines.  floor(x·1e9 + 0.5) is half-up like SQL ROUND
        # (numpy .round is banker's); sign of the rounded projection ==
        # ROUND(s, 9) > 0 on the SQL side.
        proj = X @ planes.T
        return pd.Series((np.floor(proj * 1e9 + 0.5) > 0) @ powers)

    _cells.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    cell_udf = pandas_udf(_cells, "int")

    nano = F.transform(
        F.col(vec_col), lambda x: F.round(x * 1e9, 0).cast("long")
    )
    rows = df.select(
        cell_udf(F.col(vec_col).cast("array<double>")).alias("cell"),
        nano.alias("__nx"),
    )

    def step(key, state, new):
        n, sums = state
        n = (n or 0) + len(new)
        acc = np.stack(new["__nx"].to_numpy()).astype(np.int64).sum(axis=0)
        if len(sums):
            acc += sums
        return (n, acc), pd.DataFrame({"cell": [key[0]], "n": [n], "sums": [acc.tolist()]})

    return python_state(
        rows,
        ["cell"],
        "n long, sums array<long>",
        "cell int, n long, sums array<long>",
        step,
    )
