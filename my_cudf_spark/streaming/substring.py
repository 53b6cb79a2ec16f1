"""Incremental (streaming) exact substring-passage dedup — the stream twin
of :func:`my_cudf_spark.operators.dedup.substring_dup_spans`, extending the
span-level flavor (Lee et al. 2022, arXiv:2107.06499) to a corpus that
arrives as micro-batches: drop any document that shares a verbatim
``min_len``-token passage with an already-ingested LOWER-ID document.

The key simplification that makes the span flavor streamable: EXISTENCE of
a shared span of ≥ L tokens is equivalent to a shared positional L-shingle
(any ≥ L-token verbatim passage contains its own first L-token window, and
an equal L-shingle IS an L-token verbatim passage).  So the batch
operator's seed-join + diagonal gaps-and-islands merge — which needs ALL
of a pair's seed matches together and therefore cannot be partitioned by
shingle hash — collapses, for the KEEP decision, to membership in a plain
inverted index over L-shingle hashes, the structure the bucketed-state
pattern (streaming/phash.py) already holds incrementally.  Span EXTENTS
stay a batch concern (dedup_substring_spans / remove_dup_spans); the
stream answers the curation question: "has this passage been seen before".

Keep rule (a pure function of the corpus, shared by the batch leg and the
SQL oracle)::

    r(h, b)  = #distinct docs with id <= b holding shingle h   (posting rank)
    drop(b) <=> EXISTS a < b, EXISTS h: both hold h  AND  r(h, b) <= max_df

The ``max_df`` posting-rank cap is the stream-shaped version of the batch
operator's hot-shingle ``max_postings`` knob AND the state bound: once a
shingle's posting list reaches ``max_df`` distinct docs it is frozen — its
postings leave state, only its hash stays in a hot set, and it never seeds
again.  Unlike the batch knob (df over the FINAL corpus, unknowable
online), the prefix-rank rule is decidable at arrival, monotone in id, and
SQL-replicable, so the streamed end state is oracle-checkable exactly.

Order independence: under id-ordered ingest the rule is exact by
construction.  Out-of-order arrivals are handled by REVOCATION exactly as
streaming/phash.py — a late lower-id holder of shingle h re-emits every
stored higher-id holder with ``keep = false`` (keep flags only flip
true→false; the final snapshot per id is the AND of its emissions).  The
one caveat, documented rather than hidden: a late arrival also shifts
posting ranks of already-processed higher ids, and a drop already emitted
cannot be un-emitted — so when late data pushes a shingle past ``max_df``
retroactively, the stream is CONSERVATIVE (it may have dropped a document
the recomputed rule would keep).  The registered replay ingests id-ordered
chunks, where stream == batch == oracle exactly.

Scale: state is ≤ ``max_df`` postings per distinct shingle plus the hot
set; per-batch work is new postings × their bucket collisions, never
corpus².  Shingle hashing runs JVM-side (whole-stage codegen md5) BEFORE
the stateful op — the Python state function only merges (hash, id) pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = ["shingle_hashes", "stream_substring_dedup"]


def shingle_hashes(tokens: Column, length: int) -> Column:
    """Per-document DISTINCT positional ``length``-token shingle hashes —
    the identical md5-derived 60-bit formula as
    ``dedup.substring_dup_spans`` (SQL twin: ``('0x' ||
    substr(md5(array_to_string(toks[i:i+L-1], chr(31))), 1, 15))::BIGINT``).
    Distinctness is per-row (array_distinct), so no stateful distinct is
    needed upstream of the state operator."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (length - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(tokens, i, length), "\x1f")), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    # guard short/NULL docs: sequence(1, 0) would DESCEND ([1, 0]) and hash
    # out-of-bounds partial slices
    return F.when(F.size(tokens) >= length, shingles).otherwise(
        F.array().cast("array<long>")
    )


def stream_substring_dedup(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    min_len: int = 12,
    max_df: int = 16,
    buckets: int = 8,
) -> DataFrame:
    """Streaming substring-passage dedup over (id, tokens) rows — see
    module docstring for the keep rule and its contract.

    Emits ``(id, keep)`` verdicts each micro-batch (one per shingle bucket
    an arrival lands in, plus revocations); final snapshot per id =
    ``bool_and(keep)``.  Batch frames take the identical posting-rank rule
    via ``sampling.grouped_topn`` (giant-group-safe: only the ``max_df``
    smallest ids per shingle are ever ranked, so a boilerplate shingle
    with millions of holders never serializes into one task) — the oracle
    for the streamed final state."""
    if min_len < 1 or max_df < 2:
        raise ValueError("need min_len >= 1 and max_df >= 2")
    bkt = bucket(["__h"], buckets)

    if not df.isStreaming:
        from my_cudf_spark.operators.sampling import grouped_topn

        # explode_outer + post-filter (r12, guide §7.2): plain explode
        # makes Catalyst infer ``size(...) > 0`` and push it down with the
        # whole md5 shingle pipeline inlined — double evaluation per row;
        # shingle hashes are never null, so dropping the null row an
        # empty/short doc emits is exactly the explode semantics.
        sh = df.select(
            F.col(id_col).alias("id"),
            F.explode_outer(shingle_hashes(F.col(tokens_col), min_len)).alias("h"),
        ).filter(F.col("h").isNotNull())
        # posting rank via two-phase top-n: rank r(h, b) <= max_df can only
        # hold for the max_df smallest ids per shingle
        ranked = grouped_topn(sh, ["h"], [F.col("id")], max_df, rank_out="rk")
        a = ranked.select(F.col("h").alias("__h"), F.col("id").alias("__id_a"))
        drops = (
            ranked.join(
                a,
                (F.col("h") == F.col("__h")) & (F.col("__id_a") < F.col("id")),
            )
            .select("id")
            .distinct()
            .withColumn("__dropped", F.lit(True))
        )
        return df.select(F.col(id_col).alias("id")).distinct().join(
            drops, ["id"], "left"
        ).select(
            "id", (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("keep")
        )

    def step(_bkt, state, new):
        hs, ids, hot = state
        postings: dict[int, list[int]] = {}
        for h, i in zip(hs.tolist(), ids.tolist()):
            postings.setdefault(h, []).append(i)
        hotset = set(hot.tolist())
        out: dict[int, bool] = {}
        # ascending id order makes the posting-rank rule exact for
        # multi-doc batches (a batch is ingested as if id-ordered)
        new = new.sort_values(id_col)
        for b, h in zip(new[id_col].tolist(), new["__h"].tolist()):
            out.setdefault(b, True)
            if h in hotset:
                continue
            plist = postings.setdefault(h, [])
            if b in plist:
                continue
            r_b = sum(1 for a in plist if a <= b) + 1
            if r_b > max_df:
                # freeze: postings leave state, hash joins the hot set
                hotset.add(h)
                postings.pop(h, None)
                continue
            if any(a < b for a in plist):
                out[b] = False
            for a in plist:
                if a > b:
                    out[a] = False  # revocation: late lower id wins
            plist.append(b)
        hs = [h for h, plist in postings.items() for _ in plist]
        ids = [a for plist in postings.values() for a in plist]
        return (
            (hs, ids, sorted(hotset)),
            pd.DataFrame({"id": list(out), "keep": list(out.values())}),
        )

    # explode_outer + post-filter: see the batch branch above — avoids the
    # inferred size()-filter inlining the md5 shingle pipeline per batch.
    sh = df.select(
        F.col(id_col),
        F.explode_outer(shingle_hashes(F.col(tokens_col), min_len)).alias("__h"),
    ).filter(F.col("__h").isNotNull())
    return python_state(
        sh.withColumn("__bkt", bkt),
        ["__bkt"],
        "hs array<long>, ids array<long>, hot array<long>",
        f"id {df.schema[id_col].dataType.simpleString()}, keep boolean",
        step,
    )
