"""Incremental (streaming) Bloom-filter decontamination — the stream twin
of :func:`my_cudf_spark.operators.decontam.bloom_contamination`: the
benchmark (eval-set) grams and the training corpus arrive INTERLEAVED on
one stream, and every training document is scored against the Bloom
bitmap of every bench gram ever seen — including bench grams that arrive
AFTER the document did.

Order independence is monotonicity, not revocation: Bloom bits only ever
get SET, so a probe verdict flips false→true at most once.  The operator
emits a probe's verdict when the probe first arrives, keeps unresolved
probes (misses) as per-bucket pending state, and RE-EMITS a probe with
``hit = true`` the moment a late bench gram sets its bit — so the
``bool_or``-folded final snapshot per probe equals the batch test against
the complete bitmap, whatever the arrival order (the dual of the
keep-flags-only-flip-true→false argument in :mod:`.phash`).

The streamed unit is the DISTINCT GRAM, not the (doc, gram) pair: the
bitmap verdict depends only on the gram, so probing per distinct gram
cuts probe/state/emission volume by the corpus-to-vocabulary ratio (~10×
on the fixtures, growing with corpus size — vocabulary is sublinear in
corpus, which is what the 100 TB stream needs).  Doc attribution is a
deterministic batch join (doc↔gram frame × per-gram verdicts) in the
final fold; within-batch duplicate probes dedup in pandas, cross-batch
duplicate MISSES dedup against the pending set, and cross-batch re-probes
of already-hit grams just re-emit ``true`` (harmless under ``bool_or``).

State layout: the ``m_bits``-position space is bucketed by
``hash(word_idx) % buckets`` (word_idx = pos // 63, the batch bitmap's word
key) — a (gram, j) probe always routes to the same bucket, which is what
makes in-bucket dedup globally correct.  One state row per bucket holds
(set words, pending probes); pending is bounded by DISTINCT unresolved
miss grams, and a production deployment expires it with an ingest-time
watermark once the eval side is sealed, exactly like the text-side
streaming dedup.

The final fold (per probe ``bool_or`` → per gram ``bool_and`` over its k
probes → doc join → per-doc sum) runs as a plain batch aggregation over
the drained update log.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.operators.decontam import bloom_probe_positions
from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = ["stream_bloom_decontam", "gram_id"]


def gram_id(gram) -> F.Column:
    """60-bit md5 prefix of a gram string — the emission identity shared
    by the streaming operator and the batch doc↔gram attribution join."""
    g = F.col(gram) if isinstance(gram, str) else gram
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def stream_bloom_decontam(
    df: DataFrame,
    id_col: str,
    grams_col: str,
    bench_col: str,
    m_bits: int = 32768,
    k: int = 3,
    salt: str = "bloom",
    buckets: int = 8,
) -> DataFrame:
    """Streaming Bloom decontamination over (id, grams array, is_bench)
    rows — see module docstring.

    Emits ``(gram, j, hit)`` per-distinct-gram probe verdicts each
    micro-batch (every (gram, j) at least once; misses re-emitted as hits
    when a late bench gram sets their bit).  Final snapshot: ``bool_or``
    per (gram, j), ``bool_and`` across j — equal to the batch bitmap test
    against the full bench set; join the result to a (doc, gram) frame
    for per-document reports.  ``gram`` is :func:`gram_id` of the gram
    string (the probe positions hash the string itself)."""
    pos = bloom_probe_positions(F.col("gram"), m_bits, k, salt)
    # a (gram, j) probe and the bench bit it tests share a Bloom word, so
    # keying the state on the word keeps both in one bucket
    bkt = bucket([(F.col("__pos") / 63).cast("int")], buckets)
    # explode_outer + post-filter instead of explode (r12, guide §7.2
    # duplicated-subtrees): a plain explode makes Catalyst infer
    # ``size(grams) > 0 AND isnotnull(grams)`` and push it below the
    # projection with the WHOLE gram pipeline (normalize + ngrams +
    # distinct) inlined several times — measured 8.6 s vs 0.2 s on the
    # fixture corpus, evaluated interpreted on the single pre-shuffle
    # task of every micro-batch.  explode_outer infers no filter; the
    # null row an empty/null gram array emits is dropped on the OUTPUT
    # column (gram elements are never null), which is exactly what the
    # old ``size > 0`` pre-filter achieved.  posexplode_outer likewise on
    # the constant-size probe array.
    probes = (
        df.select(
            F.col(bench_col).alias("__bench"),
            F.explode_outer(grams_col).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        .select(
            "__bench",
            gram_id("gram").alias("__gram"),
            F.posexplode_outer(F.array(*pos)).alias("__j", "__pos"),
        )
    )

    n_words = (m_bits + 62) // 63

    def step(_bkt, state, new):
        widx, wbits, p_pos, p_gram, p_j = state
        # Dense word array per bucket (n_words int64 = 4 KB at the default
        # m_bits) — probe checks are pure vectorized indexing.
        words = np.zeros(n_words, dtype=np.int64)
        words[widx] = wbits
        pend = [p_pos.astype(np.int64), p_gram, p_j.astype(np.int64)]
        bench_mask = new["__bench"].to_numpy(bool)

        # 1) bench probes set bits FIRST (intra-batch determinism; the
        #    monotone fold converges to the same final snapshot anyway).
        bpos = np.unique(new.loc[bench_mask, "__pos"].to_numpy(np.int64))
        before = words.copy()
        np.bitwise_or.at(words, bpos // 63, np.int64(1) << (bpos % 63))
        flipped = not np.array_equal(before, words)

        outs = []
        # 2) late-arrival correction: pending misses whose bit is now set
        #    re-emit as hits and leave state.
        if flipped and len(pend[0]):
            hit_now = ((words[pend[0] // 63] >> (pend[0] % 63)) & 1).astype(bool)
            if hit_now.any():
                outs.append(
                    pd.DataFrame(
                        {"gram": pend[1][hit_now], "j": pend[2][hit_now], "hit": True}
                    )
                )
                pend = [a[~hit_now] for a in pend]

        # 3) evaluate this batch's train probes, one per distinct
        #    (gram, j) — duplicates within the batch drop here, duplicate
        #    MISSES across batches drop against the pending set.
        train = new.loc[~bench_mask].drop_duplicates(["__gram", "__j"])
        tpos = train["__pos"].to_numpy(np.int64)
        tgram = train["__gram"].to_numpy(np.int64)
        tj = train["__j"].to_numpy(np.int64)
        hit = ((words[tpos // 63] >> (tpos % 63)) & 1).astype(bool)
        # (gram, j) composite key: j < 4, gram < 2^60
        fresh = ~hit & ~np.isin(tgram * 4 + tj, pend[1] * 4 + pend[2])
        emit = hit | fresh
        outs.append(pd.DataFrame({"gram": tgram[emit], "j": tj[emit], "hit": hit[emit]}))
        pend = [np.concatenate([p, t[fresh]]) for p, t in zip(pend, (tpos, tgram, tj))]

        nz = np.nonzero(words)[0]
        return (
            [nz, words[nz], *pend],
            pd.concat(outs, ignore_index=True),
        )

    return python_state(
        probes.withColumn("__bkt", bkt),
        ["__bkt"],
        "widx array<int>, wbits array<long>, p_pos array<int>,"
        " p_gram array<long>, p_j array<int>",
        "gram long, j int, hit boolean",
        step,
    )
