"""Incremental (streaming) ANN index maintenance — the missing loop
around the batch IVF family (similarity.ivf_topk / pq_topk / ivfpq_topk,
which rebuild their index per call): a growing corpus streams in, each
vector is assigned to the FROZEN coarse quantizer's Voronoi cell
(:func:`~my_cudf_spark.streaming.semdedup.cell_assign_expr` — a pure
Column projection, bit-identical to the batch assignment and legal on a
stream), and the per-cell POSTING LISTS accumulate as cross-batch state.
Draining the stream yields exactly the inverted file the batch operator
would build over the full corpus — so a top-k probe against the drained
index equals batch ``ivf_topk`` on base + delta, which is the oracle.

Epochs: the quantizer is frozen per index epoch (the real-world contract
— FAISS/ScaNN style IVF indexes never move centroids under live
ingest).  A re-train is a NEW epoch: recompute centroids from
:func:`~my_cudf_spark.streaming.kmeans.stream_cluster_stats`'s drained
sufficient statistics (that operator is the M-step carrier), bump the
epoch id, and rebuild state under the new key — emissions carry the
epoch so a reader ignores (revokes) snapshots from stale epochs.  PQ
code assignment rides the same projection shape (codebook literals per
subspace) once cells are frozen.

Scale: state is ids only — the index, not the corpus (vectors stay in
the lake and join back by id at query time, exactly how a posting-list
index works); per-cell emission volume is the cell's cumulative posting
list, O(corpus/cells) per cell.  Assignment is O(rows × centroids × dim)
JVM-side arithmetic with the centroid literals broadcast inside the
plan; the only shuffle per batch carries the new rows once, keyed by
cell bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = [
    "stream_ann_index", "seed_pq_codebooks", "pq_code_expr",
    "seed_residual_codebooks", "residual_expr", "cell_code_assign_pandas",
]


def seed_pq_codebooks(
    df: DataFrame, id_col: str, vec_col: str, m: int, n_codes: int
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks as driver-side nested lists
    ``[sub][code][component]`` — the sub-vector slices of the ``n_codes``
    smallest-id corpus rows, i.e. exactly the deterministic seeding of
    :func:`~my_cudf_spark.operators.similarity.pq_topk` (so codes
    assigned on the stream equal the batch encode bit-for-bit).  Driver
    materialization is bounded at n_codes × dim floats (the
    seed_centroid_rows / MLlib pattern)."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_codes).take(n_codes)
    )
    if len(rows) < n_codes:
        # A short corpus would silently skew downstream code assignment
        # (fewer codes than the contract promises); mirror the explicit
        # dim % m check below and fail loudly instead.
        raise ValueError(
            f"seed_pq_codebooks needs at least n_codes={n_codes} corpus "
            f"rows to seed the codebooks, got {len(rows)}"
        )
    vecs = [[float(x) for x in r[1]] for r in rows]
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    sub_d = dim // m
    return [
        [v[s * sub_d : (s + 1) * sub_d] for v in vecs] for s in range(m)
    ]


def seed_residual_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    m: int,
    n_codes: int,
) -> list[list[list[float]]]:
    """Shared RESIDUAL codebooks ``[sub][code][component]`` — the
    sub-vector slices of ``v − centroid[cell(v)]`` for the ``n_codes``
    smallest-id corpus rows, i.e. exactly the deterministic seeding of
    :func:`~my_cudf_spark.operators.similarity.ivfpq_topk`
    (similarity.py:1248, ``rseed`` = residuals of the smallest-id rows),
    so residual codes assigned on the stream equal the batch encode
    bit-for-bit.  Each seed row's cell is chosen here with the SAME
    sequential-fold float arithmetic as
    :func:`~my_cudf_spark.streaming.semdedup.cell_assign_expr` (argmax
    cosine, ties → lowest cid; plain sequential Python doubles — np.dot
    would sum in BLAS order and could flip an ulp-close tie), and the
    residual subtraction is exact IEEE — the literals match the in-plan
    values exactly.  Driver materialization bounded at n_codes × dim
    floats (the seed_pq_codebooks / MLlib pattern)."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_codes).take(n_codes)
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"seed_residual_codebooks needs at least n_codes={n_codes} "
            f"corpus rows to seed the codebooks, got {len(rows)}"
        )

    def _sdot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cnorms = [float(np.sqrt(_sdot(c, c))) for c in centroids]
    resids: list[list[float]] = []
    for r in rows:
        v = [float(x) for x in r[1]]
        vn = float(np.sqrt(_sdot(v, v)))
        best_cos, best_cid = float("-inf"), -1
        for cid, (c, cn) in enumerate(zip(centroids, cnorms)):
            cos = _sdot(v, c) / (vn * cn)
            # strict > keeps the first maximal element → ties resolve to
            # the lowest cid, matching cell_assign_expr / ORDER BY cos
            # DESC, cid
            if cos > best_cos:
                best_cos, best_cid = cos, cid
        cent = centroids[best_cid]
        resids.append([x - c for x, c in zip(v, cent)])
    dim = len(resids[0])
    if dim % m != 0:
        raise ValueError("dim must divide into m equal subspaces")
    sub_d = dim // m
    return [
        [r[s * sub_d : (s + 1) * sub_d] for r in resids] for s in range(m)
    ]


def residual_expr(
    centroids: list[list[float]], vec_col, cell_col: str
) -> "F.Column":
    """``v − centroid[cell]`` as a pure Column expression — the residual
    the shared PQ codebook quantizes in the batch IVF-PQ layout
    (similarity.ivfpq_topk).  The centroid table rides as one
    array-of-arrays literal indexed by the (already-assigned) cell id,
    so under a frozen epoch the residual is a pure projection — legal on
    a stream, and exact (IEEE subtraction of identical doubles) so codes
    downstream match the batch encode bit-for-bit."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    lit_cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    cent = F.element_at(lit_cents, F.col(cell_col).cast("int") + 1)
    return F.zip_with(v, cent, lambda x, c: x - c)


def pq_code_expr(
    codebooks: list[list[list[float]]], vec_col
) -> "F.Column":
    """PQ code assignment as a pure Column expression — ``array<int>`` of
    ``m`` codes, one argmin-L2 per subspace over that subspace's codebook
    literals (ties → lowest code, matching pq_topk's ``min_by (d2, cid)``
    and the oracle's ``ORDER BY d2, code``).  Legal on a stream (no
    window, no join): the codebook is frozen per index epoch, so encode
    is O(m × n_codes × sub_d) JVM-side arithmetic per row — the same
    shape as :func:`~my_cudf_spark.streaming.semdedup.cell_assign_expr`.
    Every per-code distance is the shared sequential fold, bit-identical
    to the batch encode and the DuckDB twin.

    ``vec_col`` is a column name or a Column — pass
    :func:`residual_expr`'s output to encode residuals (the batch
    ``ivfpq_topk`` layout) instead of raw vectors."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    codes = []
    for s in range(m):
        xs = F.slice(vec, s * sub_d + 1, sub_d)
        scored = []
        for code, cvec in enumerate(codebooks[s]):
            lit_c = F.array(*[F.lit(float(x)) for x in cvec])
            d2 = F.aggregate(
                F.zip_with(xs, lit_c, lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            scored.append(
                F.struct(d2.alias("d2"), F.lit(code).alias("code"))
            )
        best = F.aggregate(
            F.array(*scored),
            F.struct(
                F.lit(float("inf")).alias("d2"), F.lit(-1).alias("code")
            ),
            # strict < keeps the FIRST minimal element → ties resolve to
            # the lowest code, matching ORDER BY d2, code
            lambda acc, c: F.when(c["d2"] < acc["d2"], c).otherwise(acc),
        )
        codes.append(best["code"])
    return F.array(*codes)


def _seq_codes(
    X: "np.ndarray", codebooks: list[list[list[float]]]
) -> "np.ndarray":
    """Vectorized-across-rows, sequential-across-dims PQ code assignment —
    bit-identical to :func:`pq_code_expr`: per (sub, code) the d2 is the
    exact IEEE fold acc = acc + (x−c)·(x−c) in dim order, and strict ``<``
    keeps the FIRST minimal code (ties → lowest code, matching
    ``ORDER BY d2, code``)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    n = X.shape[0]
    out = np.empty((n, m), dtype=np.int32)
    for s in range(m):
        Xs = X[:, s * sub_d : (s + 1) * sub_d]
        best_d2 = np.full(n, np.inf, dtype=np.float64)
        best_code = np.full(n, -1, dtype=np.int32)
        for code, cvec in enumerate(codebooks[s]):
            acc = np.zeros(n, dtype=np.float64)
            for d in range(sub_d):
                diff = Xs[:, d] - float(cvec[d])
                acc += diff * diff
            mask = acc < best_d2
            best_d2[mask] = acc[mask]
            best_code[mask] = code
        out[:, s] = best_code
    return out


def cell_code_assign_pandas(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col,
    residual: bool = False,
) -> "F.Column":
    """Frozen-epoch cell id + PQ code word as ONE Arrow-batched pandas
    projection — the value-identical replacement for
    ``cell_assign_expr`` + ``pq_code_expr(·, residual_expr(...))`` on the
    streaming IVF-PQ paths (guide §4.2 / §1.2 driver-side work).  The
    literal-tree Column form inlines the 16×64 centroid table into all
    m×n_codes d2 computations: ~8.5 s of py4j expression construction per
    call plus ~1 s/micro-batch of query planning and multi-second codegen
    per batch, all measured (OPTIMIZATION_r12.md).  This kernel is a
    closure over (n_centroids + m·n_codes) small float lists and runs the
    bit-identical arithmetic: cells via
    :func:`~my_cudf_spark.streaming.semdedup._seq_cells`, the residual as
    the same elementwise IEEE subtraction ``v − centroid[cell]`` as
    :func:`residual_expr`, codes via :func:`_seq_codes`.  Returns a
    ``struct<cell int, code array<int>>`` Column, legal on a stream."""
    from pyspark.sql.functions import pandas_udf

    from my_cudf_spark.streaming.semdedup import (
        _centroid_norms,
        _seq_cells,
        _stack_vectors,
    )

    cents = np.asarray(
        [[float(x) for x in c] for c in centroids], dtype=np.float64
    )
    cnorms = _centroid_norms(centroids)
    books = [[[float(x) for x in c] for c in sub] for sub in codebooks]

    def _assign(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cell": [], "code": []})
        X = _stack_vectors(vs)
        cells = _seq_cells(X, cents, cnorms)
        base = X - cents[cells] if residual else X
        codes = _seq_codes(base, books)
        return pd.DataFrame({"cell": cells, "code": list(codes)})

    _assign.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return pandas_udf(_assign, "cell int, code array<int>")(v)


def stream_ann_index(
    df: DataFrame,
    id_col: str,
    cell_col: str,
    epoch: int = 0,
    buckets: int = 4,
    code_col: str | None = None,
) -> DataFrame:
    """Maintain per-cell posting lists over a stream of (id, cell) rows
    (cell precomputed with ``cell_assign_expr`` against the epoch's
    frozen centroids).  Emits the cumulative ``(epoch, cell, n, ids)``
    snapshot for every cell a micro-batch touches; ``n`` is strictly
    increasing per cell, so the final index is the max-``n`` emission
    per cell — ids are kept sorted, making the snapshot a pure function
    of the final id set (arrival-order and chunking independent).

    ``code_col`` (optional, ``array<int>`` of ``m`` PQ codes per row,
    precomputed with :func:`pq_code_expr` against the epoch's frozen
    codebooks) upgrades the posting lists to an IVF-PQ layout: each
    emission gains a ``codes array<int>`` column — the per-id code words
    flattened id-major with stride ``m``, aligned with ``ids`` — so an
    ADC probe scans the compact code column and never touches the float
    corpus.  Codes are a pure function of the id under a frozen epoch,
    so the (cell, id) dedup keeps whichever copy arrived — identical by
    construction."""
    bkt = bucket(["__cell"], buckets)
    cols = [
        F.col(cell_col).cast("int").alias("__cell"),
        F.col(id_col).cast("long").alias("__id"),
    ]
    if code_col is not None:
        cols.append(F.col(code_col).cast("array<int>").alias("__code"))
    rows = df.select(*cols).withColumn("__bkt", bkt)
    with_codes = code_col is not None

    def step(_bkt, state, new):
        cells, ids = (a.astype(np.int64) for a in state[:2])
        cells = np.concatenate([cells, new["__cell"].to_numpy(np.int64)])
        ids = np.concatenate([ids, new["__id"].to_numpy(np.int64)])
        if with_codes:
            codes_flat, m = state[2], state[3] or 0
            # frozen-epoch contract: every code word in an epoch has the
            # same length m.  A divergent batch would otherwise silently
            # misalign ids and code words whenever the element count
            # happens to divide by m — validate and fail instead.
            lens = {len(c) for c in new["__code"]}
            if len(lens) != 1:
                raise ValueError(
                    f"stream_ann_index: mixed code-word lengths {sorted(lens)} "
                    "in one batch (frozen-epoch contract violation)"
                )
            batch_m = lens.pop()
            if batch_m == 0:
                raise ValueError(
                    "stream_ann_index: empty code words in batch"
                )
            if m and batch_m != m:
                raise ValueError(
                    f"stream_ann_index: batch code-word length {batch_m} != "
                    f"state m={m} (frozen-epoch contract violation)"
                )
            m = batch_m
            codes = np.concatenate(
                [
                    codes_flat.reshape(-1, m),
                    np.stack(new["__code"].to_numpy()).astype(np.int32),
                ]
            )
        # cell-major, id-minor: per-cell postings are contiguous sorted
        # slices — state stays canonical whatever the arrival order.
        # Identical (cell, id) pairs collapse, so a re-delivered or
        # re-ingested vec_id lands in the index once and per-cell ``n``
        # grows only on genuinely new ids — the snapshot stays a pure
        # function of the final id SET under at-least-once delivery.
        order = np.lexsort((ids, cells))
        keep = np.ones(len(order), dtype=bool)
        keep[1:] = (np.diff(cells[order]) != 0) | (np.diff(ids[order]) != 0)
        order = order[keep]
        cells, ids = cells[order], ids[order]
        touched = np.unique(new["__cell"].to_numpy(np.int64))
        starts = np.searchsorted(cells, touched, side="left")
        ends = np.searchsorted(cells, touched, side="right")
        out = pd.DataFrame(
            {
                "epoch": np.full(len(touched), epoch, dtype=np.int64),
                "cell": touched.astype(np.int32),
                "n": (ends - starts).astype(np.int64),
                "ids": [ids[a:b].tolist() for a, b in zip(starts, ends)],
            }
        )
        if not with_codes:
            return (cells, ids), out
        codes = codes[order]
        out["codes"] = [codes[a:b].reshape(-1).tolist() for a, b in zip(starts, ends)]
        return (cells, ids, codes.reshape(-1), m), out

    out_struct = "epoch long, cell int, n long, ids array<long>"
    state_struct = "cells array<int>, ids array<long>"
    if with_codes:
        out_struct += ", codes array<int>"
        state_struct += ", codes array<int>, m int"
    return python_state(rows, ["__bkt"], state_struct, out_struct, step)
