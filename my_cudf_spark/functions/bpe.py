"""Byte-pair encoding and WordPiece tokenization — the real algorithms,
replacing the ``bpe_token_count`` regex estimate as the headline tokenizer
(the estimate stays in :mod:`.text` as the cheap screening path).

Reference parity:
- ``cpp/include/nvtext/byte_pair_encoding.hpp:97`` byte_pair_encoding,
  ``:129`` load_merge_pairs; semantics pinned by
  ``cpp/tests/text/bpe_tests.cpp:30-120`` (whole-string char split, spaces
  are standalone pieces, iterative lowest-rank merge left-to-right, final
  pieces joined by the separator).
- ``python/cudf/cudf/core/byte_pair_encoding.py`` BytePairEncoder.
- ``cpp/include/nvtext/wordpiece_tokenize.hpp:71/114`` wordpiece_tokenize /
  load_wordpiece_vocabulary (greedy longest-match-first, ``##``
  continuation prefix, whole word -> [UNK] id on any miss,
  ``max_words_per_row`` truncation).

Scale design (100 TB posture): the merges/vocab table is a *model
artifact* — ~50k entries for GPT-2, a few MB — tiny next to the data. It
ships to executors inside the UDF closure (Spark broadcasts large task
binaries automatically), is parsed once per Python worker, and a per-word
LRU cache collapses the merge loop to a dict probe for repeated words
(natural-language word frequency is Zipfian, so the hit rate is high).
Text flows through an Arrow-batched ``pandas_udf``: the merge loop is
data-dependent and unbounded, which Column expressions cannot express —
this is exactly the "UDF only where builtins genuinely can't" case.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "load_merge_pairs",
    "byte_pair_encode",
    "load_wordpiece_vocabulary",
    "wordpiece_tokenize",
    "subword_tokenize",
    "learn_bpe_merges",
]


def load_merge_pairs(merge_pairs: Sequence[str]) -> dict[tuple[str, str], int]:
    """Parse ``"left right"`` merge lines into a (pair -> rank) dict;
    earlier lines have priority (lower rank), matching
    ``nvtext::load_merge_pairs`` (byte_pair_encoding.hpp:129)."""
    if not merge_pairs:
        raise ValueError("merge_pairs must be non-empty")
    ranks: dict[tuple[str, str], int] = {}
    for rank, line in enumerate(merge_pairs):
        if line is None:
            raise ValueError("merge_pairs must not contain nulls")
        parts = line.split(" ")
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ValueError(f"bad merge pair {line!r}: expected 'left right'")
        ranks.setdefault((parts[0], parts[1]), rank)
    return ranks


def _bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Merge loop for one space-free segment: repeatedly merge every
    left-to-right occurrence of the lowest-ranked adjacent pair."""
    pieces = list(word)
    while len(pieces) > 1:
        best: tuple[str, str] | None = None
        best_rank = -1
        for i in range(len(pieces) - 1):
            r = ranks.get((pieces[i], pieces[i + 1]))
            if r is not None and (best is None or r < best_rank):
                best, best_rank = (pieces[i], pieces[i + 1]), r
        if best is None:
            break
        a, b = best
        merged: list[str] = []
        i = 0
        while i < len(pieces):
            if i + 1 < len(pieces) and pieces[i] == a and pieces[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(pieces[i])
                i += 1
        pieces = merged
    return pieces


def byte_pair_encode(
    col: Column | str,
    merge_pairs: Sequence[str],
    separator: str = " ",
) -> Column:
    """BPE-encode a string column against a fixed merges table
    (byte_pair_encoding.hpp:97; bpe_tests.cpp:30).

    The string is split into characters; space characters (the merges-file
    delimiter, so never part of a pair) remain standalone pieces and act as
    merge barriers; remaining pieces are joined with ``separator``. Because
    merges cannot cross a space, encoding factorizes per space-delimited
    segment — which is what makes the per-segment LRU cache sound.
    """
    ranks = load_merge_pairs(merge_pairs)
    name = col if isinstance(col, str) else None
    c = F.col(col) if isinstance(col, str) else col

    def encode_batch(s):
        import pandas as pd

        @lru_cache(maxsize=65536)
        def enc(segment: str) -> tuple[str, ...]:
            return tuple(_bpe_word(segment, ranks))

        def one(text):
            if text is None:
                return None
            pieces: list[str] = []
            for k, seg in enumerate(text.split(" ")):
                if k:
                    pieces.append(" ")
                pieces.extend(enc(seg))
            return separator.join(pieces)

        return s.map(one)

    import pandas as pd

    encode_batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(encode_batch, "string")
    out = udf(c)
    return out.alias(f"bpe({name})") if name else out


def load_wordpiece_vocabulary(vocab: Sequence[str]) -> dict[str, int]:
    """token -> row-index id, matching ``nvtext::load_wordpiece_vocabulary``
    (wordpiece_tokenize.hpp:114 — ids are row indices, entries unique)."""
    if not vocab:
        raise ValueError("vocabulary must be non-empty")
    ids: dict[str, int] = {}
    for i, tok in enumerate(vocab):
        if tok is None:
            raise ValueError("vocabulary must not contain nulls")
        ids.setdefault(tok, i)
    return ids


def _wp_word(word: str, ids: dict[str, int], unk_id: int) -> tuple[int, ...]:
    """Greedy longest-match-first WordPiece for one word: continuation
    pieces looked up with a ``##`` prefix; any unmatched position turns the
    WHOLE word into the UNK id (wordpiece_tokenize.hpp:80 — 'now' -> 0)."""
    out: list[int] = []
    i, n = 0, len(word)
    while i < n:
        j = n
        hit = None
        while j > i:
            sub = word[i:j] if i == 0 else "##" + word[i:j]
            tid = ids.get(sub)
            if tid is not None:
                hit = tid
                break
            j -= 1
        if hit is None:
            return (unk_id,)
        out.append(hit)
        i = j
    return tuple(out)


def wordpiece_tokenize(
    col: Column | str,
    vocab: Sequence[str],
    max_words_per_row: int = 0,
    unk_token: str = "[UNK]",
) -> Column:
    """WordPiece-tokenize to an ``array<int>`` of vocabulary ids
    (wordpiece_tokenize.hpp:71).

    Per space-delimited word: greedy longest-match-first against the
    vocabulary, continuation pieces looked up with a ``##`` prefix; if any
    position has no match the whole word becomes the ``[UNK]`` id (-1 when
    the vocab has no UNK entry). ``max_words_per_row > 0`` tokenizes only
    the first N words of each row (hpp example: t4/t5).
    """
    ids = load_wordpiece_vocabulary(vocab)
    unk_id = ids.get(unk_token, -1)
    c = F.col(col) if isinstance(col, str) else col

    def tokenize_batch(s):
        import pandas as pd

        @lru_cache(maxsize=65536)
        def wp(word: str) -> tuple[int, ...]:
            return _wp_word(word, ids, unk_id)

        def one(text):
            if text is None:
                return None
            words = text.split()
            if max_words_per_row > 0:
                words = words[:max_words_per_row]
            toks: list[int] = []
            for w in words:
                toks.extend(wp(w))
            return toks

        return s.map(one)

    import pandas as pd

    tokenize_batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(tokenize_batch, "array<int>")(c)


def subword_tokenize(
    df,
    text_col: str,
    vocab: Sequence[str],
    id_cols: Sequence[str],
    max_sequence_length: int = 64,
    stride: int = 48,
    do_lower: bool = True,
    do_truncate: bool = False,
    unk_token: str = "[UNK]",
):
    """BERT-style subword tokenization to fixed-size tensor rows
    (subword_tokenize.hpp:150, tokenizer_result :79 — deprecated upstream
    in 25.06 in favor of wordpiece, kept here for parity).

    Output: one row per tensor window —
    ``(*id_cols, seq, token_ids, attention_mask, n_valid, start_pos,
    stop_pos)`` where ``token_ids`` is zero-padded to
    ``max_sequence_length``, ``attention_mask`` marks the valid prefix, and
    (start_pos, stop_pos) are the covered token positions (the reference's
    tensor_metadata triple, with ``id_cols`` in place of the row-id).

    ``do_truncate=True`` keeps only the first window; otherwise overlapping
    windows advance by ``stride`` until one reaches the end of the token
    sequence (HF-style overflow).

    Scale shape: one Arrow-batched pandas_udf pass for WordPiece ids, then
    the windowing — sequence/filter/explode/slice/pad — is all JVM-side
    higher-order Column expressions: narrow, no shuffle, codegen-friendly.
    """
    if not 0 < stride <= max_sequence_length:
        raise ValueError("require 0 < stride <= max_sequence_length")
    c = F.col(text_col)
    if do_lower:
        c = F.lower(c)
    t = df.select(*id_cols, wordpiece_tokenize(c, vocab, unk_token=unk_token).alias("__ids"))
    n = F.size("__ids")
    if do_truncate:
        starts = F.array(F.lit(0))
    else:
        # candidate starts 0, stride, 2*stride, ... ≤ n-1; keep a window if
        # it is the first OR the previous window did not already reach the
        # end (start - stride + max < n).
        starts = F.filter(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
            lambda s: (s == 0) | (s + F.lit(max_sequence_length - stride) < n),
        )
    t = t.select(*id_cols, "__ids", F.explode(starts).alias("start"))
    sl = F.slice("__ids", F.col("start") + 1, max_sequence_length)
    n_valid = F.size(sl)
    pad = F.lit(max_sequence_length) - n_valid
    return t.select(
        *id_cols,
        (F.col("start") / stride).cast("int").alias("seq"),
        F.concat(sl, F.array_repeat(F.lit(0), pad)).alias("token_ids"),
        F.concat(
            F.array_repeat(F.lit(1), n_valid), F.array_repeat(F.lit(0), pad)
        ).alias("attention_mask"),
        n_valid.alias("n_valid"),
        F.col("start").alias("start_pos"),
        (F.least(F.col("start") + max_sequence_length, F.size("__ids")) - 1).alias(
            "stop_pos"
        ),
    )


def _apply_merge(rep: Column, pair: Column, sep: str) -> Column:
    """Rewrite one doubled-space representation with one merge rule:
    literal replace of ' a  b ' with ' a@b ' (left-to-right non-overlapping
    replace IS greedy BPE application; the doubled interior spaces keep
    neighboring boundaries intact when a match consumes one space from each
    side).  NULL ``pair`` (an exhausted round — no adjacent pairs left in
    the corpus) leaves the representation unchanged."""
    rewritten = F.replace(
        rep,
        F.concat(F.lit(" "), F.replace(pair, F.lit(" "), F.lit("  ")), F.lit(" ")),
        F.concat(F.lit(" "), F.replace(pair, F.lit(" "), F.lit(sep)), F.lit(" ")),
    )
    return F.when(pair.isNull(), rep).otherwise(rewritten)


def learn_bpe_merges(
    df,
    text_col: Column | str,
    num_merges: int,
    sep: str = "@",
    checkpoint_every: int = 8,
):
    """Distributed BPE merge LEARNING (tokenizer training) at word level:
    ``num_merges`` rounds of corpus-wide adjacent-pair counting; each
    round's winner (max count, ties to the lexicographically smallest
    pair) becomes a merge rule applied before the next round — exactly how
    production BPE trainers iterate, with the pair count as a distributed
    map-side-combined aggregation instead of a single-machine heap.  The
    reference only APPLIES a pretrained merges table
    (nvtext/byte_pair_encoding.hpp:129 load_merge_pairs); learning it is
    the upstream step a corpus-scale engine should own.

    Returns (merges_df, final_rep_df): merges_df has one row per
    non-exhausted round (merge_round, pair, n_occurrences) — fewer than
    ``num_merges`` rows when the corpus runs out of adjacent pairs;
    final_rep_df carries the post-merge token representation per input row.

    Precondition: token text must be single-space separated with no
    leading/trailing/consecutive spaces and no occurrence of ``sep`` inside
    a token (the registered query routes through ``text.normalize_text``,
    which guarantees this); violations silently produce empty/ambiguous
    token names.  ``num_merges`` must be >= 1.

    Mechanism: the loop builds LAZILY (round r's winner is a 1-row
    aggregate broadcast into round r+1's rewrite over a doubled-space
    string representation — see ``_apply_merge``), with every per-round
    frame held by a DEDICATED persist owned by this call (round r+1
    references round r twice — pair counts + rewrite — which uncached
    would compound into 2^k evaluations; a shared LRU is not a guard, an
    eviction before first materialization re-enables the cascade).  One
    controlled materialization closes the call: the winners accumulate into
    a frame that is eagerly ``localCheckpoint``-ed, computing each round's
    persisted frame exactly once; every ``checkpoint_every`` rounds the
    accumulator and representation checkpoint mid-loop so real
    ``num_merges`` (50k for GPT-2) never builds an unbounded lineage or
    holds more than a window of corpus-sized frames in cache.  The
    returned representation is REBUILT from the checkpointed merges table
    (num_merges narrow rewrites over the source — linear recompute, no
    cache dependence), so every intermediate persist is released before
    returning: the call leaves nothing cached but its own checkpoints.

    Scale: per round, one map-side-combined pair-count shuffle (pair
    cardinality ~ vocab², small) + a 1-row broadcast + a narrow rewrite;
    peak cache is ``checkpoint_every`` corpus-sized frames.  Rounds are
    sequential by nature of the algorithm.

    Fault tolerance: every truncation (the per-round lazy one and the
    ``checkpoint_every`` eager ones) is a ``localCheckpoint``, whose blocks
    live only in executor storage with the lineage cut.  Losing an executor
    after a checkpoint therefore fails the job instead of recomputing the
    lost blocks; a cluster run that must survive executor loss needs
    reliable ``checkpoint()`` under ``sc.setCheckpointDir``.  The call also
    does not free superseded checkpoint blocks (``_release`` unpersists only
    its own persists): they stay in storage until Spark's ContextCleaner
    collects the unreferenced RDDs."""
    from pyspark.sql import DataFrame  # local: avoid cycle at import time
    from pyspark.storagelevel import StorageLevel

    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if sep == " " or not sep:
        raise ValueError("sep must be a non-space, non-empty string")

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    rep0 = df.select(
        F.concat(F.lit(" "), F.replace(c, F.lit(" "), F.lit("  ")), F.lit(" ")).alias(
            "rep"
        )
    )
    cached: list[DataFrame] = []  # this call's persists, released before return

    def _pin(frame: DataFrame) -> DataFrame:
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(frame)
        return frame

    def _release() -> None:
        while cached:
            try:
                cached.pop().unpersist()
            except Exception:  # session tearing down — nothing to release
                pass

    empty_acc = df.sparkSession.createDataFrame(
        [], "merge_round int, pair string, n_occurrences bigint"
    )
    acc = empty_acc
    rep = rep0
    try:
        for r in range(1, num_merges + 1):
            # Lazy localCheckpoint, not just persist (r12): round r's
            # LOGICAL tree references rep_{r-1} twice (the rewrite and the
            # winner's pair-count subtree), so the un-truncated plan is
            # 2^r nodes — a persist dedupes EXECUTION but analysis and
            # optimization still walk the doubled tree every round
            # (measured superlinear: 6 rounds 9.8 s vs 2 rounds 2.9 s).
            # The lazy checkpoint truncates the plan to a leaf immediately
            # (materializes once on first use, cached like the persist).
            rep = _pin(rep).localCheckpoint(eager=False)
            toks = rep.select(F.split(F.trim(F.col("rep")), "  ").alias("tk"))
            pairs = toks.select(
                F.explode(
                    F.transform(
                        F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                        lambda x, i: F.concat(x, F.lit(" "), F.element_at(F.col("tk"), i + 2)),
                    )
                ).alias("pair")
            )
            best = _pin(
                pairs.groupBy("pair")
                .agg(F.count(F.lit(1)).alias("n_occurrences"))
                .orderBy(F.desc("n_occurrences"), F.asc("pair"))
                .limit(1)
            )
            acc = acc.unionByName(
                best.select(F.lit(r).alias("merge_round"), "pair", "n_occurrences")
            )
            # Left join on TRUE (1-row-or-empty side): an exhausted round
            # yields NULL pair and leaves rep unchanged, where a crossJoin
            # would silently empty the corpus.
            rep = rep.join(F.broadcast(best), F.lit(True), "left").select(
                _apply_merge(F.col("rep"), F.col("pair"), sep).alias("rep")
            )
            if r % checkpoint_every == 0 and r < num_merges:
                # Truncate lineage and release the window of per-round
                # frames: both checkpoints materialize HERE (each pinned
                # frame computed exactly once), after which nothing before
                # this round is referenced.
                acc = acc.localCheckpoint(eager=True)
                rep = rep.localCheckpoint(eager=True)
                _release()
        merges = acc.localCheckpoint(eager=True)
        # Rebuild the final representation from the CHECKPOINTED merges
        # (each round's pair is a 1-row filter of a materialized frame):
        # linear recompute — num_merges narrow rewrites — with no
        # dependence on the persists released below.  The rebuild truncates
        # its OWN lineage on the same checkpoint_every cadence as the
        # training loop, so the returned frame's plan depth is bounded by
        # checkpoint_every rewrites regardless of num_merges (at GPT-2's
        # 50k merges an untruncated chain would blow up driver-side
        # Catalyst analysis long before any executor ran).
        final_rep = rep0
        for r in range(1, num_merges + 1):
            pair_r = F.broadcast(
                merges.filter(F.col("merge_round") == r).select("pair")
            )
            final_rep = final_rep.join(pair_r, F.lit(True), "left").select(
                _apply_merge(F.col("rep"), F.col("pair"), sep).alias("rep")
            )
            if r % checkpoint_every == 0 and r < num_merges:
                final_rep = final_rep.localCheckpoint(eager=True)
    finally:
        _release()
    return merges, final_rep
