"""Incremental (streaming) perceptual-hash image dedup — the stream twin
of :func:`my_cudf_spark.operators.multimodal.phash_neardup_pairs`, closing
the last cell of the dedup modality×mode matrix (image × stream).

A replayed image stream drops arrivals whose signature sits within
``max_hamming`` of an already-ingested LOWER-ID image.  The keep rule is
deliberately a pure function of the final corpus —
``keep(x) ⇔ ¬∃ y: y.id < x.id ∧ hamming(sig(x), sig(y)) ≤ h`` — so the
streamed end state is arrival-order independent and SQL-checkable (a
plain EXISTS over brute-forced pairs).  Order independence is achieved by
REVOCATION, exactly as :mod:`my_cudf_spark.streaming.semdedup`: when a
lower-id near-duplicate arrives late, the operator re-emits the
previously-kept higher-id image with ``keep = false``.  Keep flags only
ever flip true→false, so the final snapshot per id is the AND of every
emission for that id — no version bookkeeping needed.

Candidate generation is the batch operator's pigeonhole banding turned
into STATE LAYOUT: the signature splits into ``max_hamming + 1`` bands
(any pair within distance h agrees on ≥ 1 whole band), each arrival is
routed to all of its (band_idx, band_val) groups, and cross-batch state
per group holds the full (id, sig) entries whose signature carries that
band value — a distributed inverted band index.  An arriving image is
compared (exact popcount on the stored full signatures) only against
entries sharing a band, never all-pairs.  ``buckets`` groups band keys
into ``hash(band_idx, band_val) % buckets`` state rows (the repo's
bucketed-state pattern — one Arrow-encoded Python invocation per bucket
per batch, vectorized inside).

Each image therefore emits one local keep verdict per band bucket it
lands in (plus later revocations); the consumer folds them with
``bool_and`` grouped by id.  A bucket that never saw a near neighbor
votes true; any bucket that did votes false — AND is the corpus rule.

Scale: state is nbands rows per image of ~20 bytes — the same volume the
batch banded self-join shuffles, held incrementally (RocksDB state store
at production scale).  Per-batch work is ∝ new band rows + band-bucket
collisions, never corpus².  The per-arrival fan-out (nbands state
updates) is the price of dedup-against-everything on a stream; a
production deployment bounds it with a watermark on ingest time exactly
like the text-side streaming dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = ["band_votes", "stream_phash_dedup"]

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) — signatures are < 2^63 so the
    uint64 view is sign-safe."""
    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & _M1
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return ((x * _H01) >> np.uint64(56)).astype(np.int64)


def _band_offsets(max_hamming: int, sig_bits: int) -> list[int]:
    """Band bit offsets — IDENTICAL split to multimodal.phash_neardup_pairs
    (width = bits // nbands, remainder distributed over leading bands) so
    the stream and batch legs band the same way."""
    nbands = max_hamming + 1
    if nbands > sig_bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {nbands} bands but the "
            f"signature has only {sig_bits} bits; banding degenerates"
        )
    width = sig_bits // nbands
    extra = sig_bits % nbands
    offs = [i * width + min(i, extra) for i in range(nbands + 1)]
    offs[-1] = sig_bits
    return offs


def band_votes(everything: pd.DataFrame, n_old: int, near) -> pd.DataFrame:
    """``(id, keep)`` votes of one bucket of a banded index: the entries
    ``(bi, bv, id, …)`` past ``n_old`` are this batch's arrivals; they are
    compared with every entry sharing a band value, and ``near(cand)``
    marks the candidate pairs that are duplicates.  In a duplicate pair
    the HIGHER id is dropped — for an id already in state that is a
    revocation; every other arrival votes true."""
    cand = everything.iloc[n_old:].merge(
        everything, on=["bi", "bv"], suffixes=("_a", "_b")
    )
    cand = cand[cand["id_a"] != cand["id_b"]]
    hits = cand[near(cand)]
    out = dict.fromkeys(everything["id"].iloc[n_old:].tolist(), True)
    out.update(dict.fromkeys(np.maximum(hits["id_a"], hits["id_b"]).tolist(), False))
    return pd.DataFrame({"id": list(out), "keep": list(out.values())})


def stream_phash_dedup(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    max_hamming: int = 3,
    sig_bits: int = 60,
    buckets: int = 8,
) -> DataFrame:
    """Streaming image dedup over (id, sig) rows — see module docstring.

    Emits ``(id, keep)`` verdicts each micro-batch (one per band bucket an
    arrival lands in, plus revocations); final snapshot per id =
    ``bool_and(keep)``.  Batch frames take the equivalent pair rule
    (lower-id near-dup exists → drop) via the banded self-join — the
    oracle for the streamed final state."""
    offs = _band_offsets(max_hamming, sig_bits)
    nbands = max_hamming + 1
    bkt = bucket(["__bi", "__bv"], buckets)

    if not df.isStreaming:
        from my_cudf_spark.operators.multimodal import phash_neardup_pairs

        pairs = phash_neardup_pairs(
            df, id_col, sig_col, max_hamming=max_hamming, sig_bits=sig_bits
        )
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(
            dropped.withColumn("__dropped", F.lit(True)), [id_col], "left"
        ).select(
            F.col(id_col).alias("id"),
            (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("keep"),
        )

    id_type = df.schema[id_col].dataType.simpleString()

    def step(_bkt, state, new):
        new_entries = pd.DataFrame(
            {
                "bi": new["__bi"].to_numpy(np.int32),
                "bv": new["__bv"].to_numpy(np.int64),
                "id": new[id_col].to_numpy(np.int64),
                "sig": new[sig_col].to_numpy(np.int64),
            }
        )
        old = pd.DataFrame(dict(zip(new_entries.columns, state)))
        everything = pd.concat([old, new_entries], ignore_index=True)
        out = band_votes(
            everything,
            len(old),
            lambda c: _popcount64(
                np.bitwise_xor(c["sig_a"].to_numpy(), c["sig_b"].to_numpy())
            )
            <= max_hamming,
        )
        return [everything[c].to_numpy() for c in everything.columns], out

    band_vals = F.array(
        *[
            F.shiftrightunsigned(F.col(sig_col), offs[i]).bitwiseAND(
                F.lit((1 << (offs[i + 1] - offs[i])) - 1)
            )
            for i in range(nbands)
        ]
    )
    banded = df.select(
        F.col(id_col),
        F.col(sig_col),
        F.posexplode(band_vals).alias("__bi", "__bv"),
    )
    return python_state(
        banded.withColumn("__bkt", bkt),
        ["__bkt"],
        f"bis array<int>, bvs array<long>, ids array<{id_type}>, sigs array<long>",
        f"id {id_type}, keep boolean",
        step,
    )
