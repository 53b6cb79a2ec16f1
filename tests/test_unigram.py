"""Differential + reference-vector tests for unigram-LM tokenizer
training (functions/unigram.learn_unigram): a pure-Python hard-EM
reference replays the exact contract (integer nano-nat scores,
shortest-piece-first tie-break, char add-one smoothing) and the Spark
operator must reproduce it bit-for-bit; the SQL-oracle leg is covered by
test_oracle[text_unigram_learn]."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from my_cudf_spark.functions.unigram import learn_unigram

MAXP, MAXW = 3, 12
MISS, INV = -(10**15), -(9 * 10**17)


def _nanolog(x: float) -> int:
    return int(round(round(math.log(x), 9) * 1e9))


def _viterbi(w: str, sc: dict[str, int]) -> list[str]:
    n = len(w)
    dp = [0] + [None] * n
    bt = [0] * (n + 1)
    for j in range(1, n + 1):
        cands = [
            dp[j - i] + sc.get(w[j - i : j], MISS) if i <= j else INV
            for i in range(1, MAXP + 1)
        ]
        dp[j] = max(cands)
        bt[j] = cands.index(dp[j]) + 1  # shortest last piece on ties
    pieces, pos = [], n
    while pos > 0:
        i = bt[pos]
        pieces.append(w[pos - i : pos])
        pos -= i
    return pieces


def _reference(texts: list[str], topv: int = 30):
    wf: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            if 1 <= len(w) <= MAXW:
                wf[w] = wf.get(w, 0) + 1
    c: dict[str, int] = {}
    for w, f in wf.items():
        for s in range(len(w)):
            for l in range(1, min(MAXP, len(w) - s) + 1):
                c[w[s : s + l]] = c.get(w[s : s + l], 0) + f
    chars = sorted(p for p in c if len(p) == 1)
    for _ in range(2):
        total = sum(c.values())
        sc = {p: _nanolog(cc / total) for p, cc in c.items()}
        e: dict[str, int] = {}
        for w, f in wf.items():
            for p in _viterbi(w, sc):
                e[p] = e.get(p, 0) + f
        c = {p: cc for p, cc in e.items() if len(p) > 1 and cc > 0}
        for ch in chars:
            c[ch] = e.get(ch, 0) + 1
    total = sum(c.values())
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:topv]
    return [
        (r + 1, p, cc, _nanolog(cc / total)) for r, (p, cc) in enumerate(ranked)
    ]


def test_learn_unigram_matches_reference_vector(spark):
    """A small corpus with repeated subword structure: the operator must
    reproduce the reference EM trajectory exactly — rank, piece, count,
    and nano-nat score."""
    texts = [
        "window window windows",
        "windy wind winter",
        "column columns columnar",
        "win col umn dow",
        "the cat the hat the mat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "norm string")
    got = [tuple(r) for r in learn_unigram(df, "norm").orderBy("rank").collect()]
    want = _reference(texts)
    assert got == want
    # the corpus' repeated subwords surface as multi-char pieces
    pieces = {p for _, p, _, _ in got}
    assert "win" in pieces and "col" in pieces


def test_learn_unigram_segmentation_covers_words(spark):
    """Viterbi coverage invariant: single chars are never dropped, so
    every ≤12-char word is segmentable and every trained piece is a
    substring of some corpus word."""
    texts = ["abc abcd ab a", "zz zzz z q"]
    df = spark.createDataFrame([(t,) for t in texts], "norm string")
    out = learn_unigram(df, "norm", top_v=100).collect()
    words = set("abc abcd ab a zz zzz z q".split())
    for r in out:
        assert any(r["piece"] in w for w in words), r["piece"]
    chars = {c for w in words for c in w}
    assert chars <= {r["piece"] for r in out if len(r["piece"]) == 1}


def test_unigram_segment_stats_consistency(spark):
    """Apply-side invariants: per-doc pieces reconstruct word lengths,
    scores equal the sum of trained piece scores along the segmentation,
    and over-length words are counted skipped, not segmented."""
    from my_cudf_spark.functions.unigram import (
        train_unigram_counts,
        unigram_segment_stats,
    )

    texts = [
        (0, "window window winter"),
        (1, "columnar col umn"),
        (2, "supercalifragilistic ab"),  # 20-char word → skipped
        (3, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, norm string")
    counts = train_unigram_counts(df, "norm")
    out = {
        r["id"]: r
        for r in unigram_segment_stats(df, "doc_id", "norm", counts).collect()
    }
    assert out[2]["n_skipped"] == 1 and out[2]["n_words"] == 1  # 'ab'
    assert out[0]["n_skipped"] == 0 and out[0]["n_words"] == 3
    assert out[3]["n_words"] == 0 and out[3]["n_pieces"] == 0
    # pieces bound: between ceil(len/3) and len per word
    assert 3 <= out[0]["n_pieces"] <= sum(len(w) for w in texts[0][1].split())
    # score is a genuine negative log-prob sum
    assert out[0]["score"] < 0 and out[3]["score"] == 0


def test_m_counts_union_equals_left_join(spark, monkeypatch):
    # _m_counts smooths single chars with a union + sum instead of the
    # former ``chars LEFT JOIN counts``; the two agree only because every
    # single-char piece of an E-step count is in ``chars``.  Check that
    # premise, and the equality, on every M-step of a real training run.
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.functions import unigram as U
    from my_cudf_spark.sources import load_table
    from tests.conftest import SF_DIR

    steps = []
    m_counts = U._m_counts

    def recording(counts, chars):
        steps.append((counts, chars))
        return m_counts(counts, chars)

    monkeypatch.setattr(U, "_m_counts", recording)
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("text").isNotNull())
    U.train_unigram_counts(docs.select(T.normalize_text("text").alias("norm")), "norm")

    assert len(steps) == 2
    for counts, chars in steps:
        c = dict(counts.collect())
        charset = {r.piece for r in chars.collect()}
        singles = {p for p in c if len(p) == 1}
        assert singles and singles <= charset, singles - charset
        want = {p: n for p, n in c.items() if len(p) > 1 and n > 0}
        want.update({ch: c.get(ch, 0) + 1 for ch in charset})  # left join
        assert dict(m_counts(counts, chars).collect()) == want
