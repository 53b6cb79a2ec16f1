"""Hypothesis property tests for the pure-Python cores shared by the
Spark operators and their DuckDB oracle twins.

These run without a SparkSession: they pin the *formulas* (hash-threshold
comparison semantics, BPE merge loop, WordPiece matching) whose Spark and
SQL renderings are asserted equal by the oracle suite — a formula-level
bug here would show up identically on both sides and slip through the
differential gate.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from my_cudf_spark.functions.bpe import _bpe_word, _wp_word, load_merge_pairs
from my_cudf_spark.operators.sampling import _PREFIX_LEN, _threshold_hex

HEX = 16**_PREFIX_LEN


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_threshold_hex_is_numeric_compare(p):
    """bucket < threshold_hex(p) (lexicographic, 8-digit buckets) must
    equal int(bucket) < floor(p * 16^8) — the invariant both hash_sample
    and every SQL oracle twin rely on."""
    thr = _threshold_hex(p)
    assert len(thr) == _PREFIX_LEN or (p == 1.0 and len(thr) == _PREFIX_LEN + 1)
    cut = int(p * HEX)
    for b in (0, 1, cut - 1, cut, cut + 1, HEX - 1):
        if not 0 <= b < HEX:
            continue
        bucket = format(b, f"0{_PREFIX_LEN}x")
        # pad both to 9 digits exactly like mixture_sample's compare
        assert (("0" + bucket) < thr.rjust(_PREFIX_LEN + 1, "0")) == (b < cut)


@given(st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0))
def test_threshold_hex_monotone(a, b):
    """Nested samples: smaller fraction → lexicographically ≤ threshold."""
    lo, hi = sorted((a, b))
    assert _threshold_hex(lo).rjust(9, "0") <= _threshold_hex(hi).rjust(9, "0")


_WORD = st.text(alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x7F), min_size=1, max_size=12)


@settings(max_examples=200)
@given(
    _WORD,
    st.lists(st.tuples(_WORD, _WORD), min_size=1, max_size=20),
)
def test_bpe_pieces_reconstruct_word(word, pairs):
    """BPE merging never loses or reorders characters: concatenating the
    output pieces reproduces the input segment for ANY merges table."""
    ranks = load_merge_pairs([f"{a} {b}" for a, b in pairs])
    pieces = _bpe_word(word, ranks)
    assert "".join(pieces) == word
    assert all(pieces)  # no empty pieces


@settings(max_examples=200)
@given(_WORD, st.lists(_WORD, max_size=30))
def test_wordpiece_ids_reconstruct_or_unk(word, vocab_words):
    """WordPiece output is either all-matched (ids concatenate back to the
    word) or exactly (UNK,) — never a partial encode."""
    vocab = list(dict.fromkeys(vocab_words + ["##" + w for w in vocab_words]))
    ids = {tok: i for i, tok in enumerate(vocab)}
    unk = -1
    out = _wp_word(word, ids, unk)
    if out == (unk,):
        return
    rev = {i: tok for tok, i in ids.items()}
    rebuilt = "".join(
        rev[t][2:] if k > 0 and rev[t].startswith("##") else rev[t]
        for k, t in enumerate(out)
    )
    assert rebuilt == word


@given(st.integers(min_value=1, max_value=500), st.integers(min_value=1, max_value=20))
@settings(max_examples=300)
def test_ntile_closed_form_matches_sql_semantics(n, k):
    """windows.ntile_from_index's arithmetic (computed here in plain
    Python — identical formula) must reproduce SQL NTILE bucket sizing:
    first n%k buckets get n//k+1 rows, the rest n//k, buckets contiguous
    and monotone in row position."""
    import math

    m = n % k
    small = (n - m) // k
    big = small + 1
    cut = m * big

    def bucket(r):
        if r < cut:
            return math.floor(r / big) + 1
        return m + math.floor((r - cut) / small) + 1

    buckets = [bucket(r) for r in range(n)]
    assert buckets == sorted(buckets)
    from collections import Counter
    sizes = Counter(buckets)
    n_buckets = min(n, k)
    assert set(sizes) == set(range(1, n_buckets + 1))
    for b in range(1, n_buckets + 1):
        expected = (n // k) + (1 if b <= m else 0)
        assert sizes[b] == max(expected, 1) if n < k else sizes[b] == expected
