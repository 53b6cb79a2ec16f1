"""Text / dedup correctness queries (SURVEY.md §2.10 nvtext surface +
north-star LLM-pipeline ops) over the ``documents`` fixture.

The exact inverted-index Jaccard pairs are the oracle-checked near-dup
path; MinHash-LSH and SimHash (the 100 TB paths) are ALSO fully
oracle-checked — minhash because its deterministic recall on the fixtures
is exactly 100% (verified pairs ≡ the exact pair set), simhash because
pigeonhole banding is complete and its md5-backed token hash lets DuckDB
recompute signatures bit-for-bit.  Recall bounds on planted data are
additionally asserted in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_cudf_spark.functions import bpe as B
from my_cudf_spark.functions import text as T
from my_cudf_spark.operators import dedup as D
from my_cudf_spark.queries import register
from my_cudf_spark.sources import load_table

# DuckDB twin of text.normalize_text
SQL_NORM = "trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))"
# DuckDB twin of distinct word-trigram sets over normalized text.  Trigrams
# (not bigrams) for the near-dup index: the fixture vocabulary is ~40 words,
# so the bigram space is dense enough that nearly every document pair shares
# a bigram and any inverted-index join degenerates quadratic; trigram
# posting lists are short (max 7 at sf0.01) and stay short as the corpus
# grows, which is the property the 100 TB index needs.
SQL_TRIGRAMS = (
    f"list_distinct(list_transform(range(1, len(string_split({SQL_NORM},' ')) - 1), "
    f"i -> string_split({SQL_NORM},' ')[i] || ' ' || string_split({SQL_NORM},' ')[i+1]"
    f" || ' ' || string_split({SQL_NORM},' ')[i+2]))"
)


def _norm_tokens():
    return F.split(T.normalize_text("text"), " ")


def _with_tokens(docs: DataFrame) -> DataFrame:
    """Materialize normalized tokens as their own projection.

    Required for performance, not correctness: an expression passed inline
    into a higher-order-function lambda is re-evaluated **per array
    element** (Catalyst does not hoist loop invariants out of lambdas), so
    `transform(..., i -> f(split(regexp(text)), i))` pays the regex+split n
    times per row.  A separate projection makes downstream lambdas read the
    stored array (CollapseProject keeps multi-use non-cheap aliases
    un-inlined).  Measured ~15× on gram generation at sf0.1.
    """
    return docs.withColumn("toks", _norm_tokens())


@register(
    "text_tokenize",
    sql=r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]')) AS INT) AS n_bpe,
           length(text) AS len_chars
    FROM documents ORDER BY doc_id
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize/count_tokens (nvtext/tokenize.hpp:61-226) + BPE-ish token
    estimate (byte_pair_encoding.hpp:97 without a merges table)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.count_tokens("text").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]"), 0)).alias("n_bpe"),
        F.length("text").cast("long").alias("len_chars"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    sql=f"""
    SELECT doc_id,
           substring({SQL_NORM}, 1, 30) AS norm_prefix,
           md5(array_to_string(list_sort(list_distinct(string_split({SQL_NORM}, ' '))), ' ')) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_characters/spaces (normalize.hpp:55/216) + order-insensitive
    content fingerprint (north star)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(T.normalize_text("text"), 1, 30).alias("norm_prefix"),
        T.fingerprint("text").alias("fp"),
    ).orderBy("doc_id")


@register(
    "text_quality_lang",
    sql=r"""
    WITH t AS (SELECT doc_id, text, length(text) AS n,
                      length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                      length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
                      string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ') AS toks
               FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN n > 0 THEN (CAST(alpha AS DOUBLE)/n)*0.6
                 + (CASE WHEN (CAST(n - spaces AS DOUBLE)/(spaces+1)) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)*0.3
                 + LEAST(CAST(n AS DOUBLE)/100.0, 1.0)*0.1 ELSE 0.0 END, 6) AS quality,
           ROUND(CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','for','on','with'))) AS DOUBLE)/len(toks), 6) AS sw_en,
           ROUND(CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','für','auf','ein'))) AS DOUBLE)/len(toks), 6) AS sw_de
    FROM t ORDER BY doc_id
    """,
)
def text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length/alpha/word-length heuristics) + stopword-ratio
    language signal (north star text analysis)."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.quality_score("text").alias("quality"),
        F.round(T.stopword_ratio(F.col("toks"), "en"), 6).alias("sw_en"),
        F.round(T.stopword_ratio(F.col("toks"), "de"), 6).alias("sw_de"),
    ).orderBy("doc_id")


@register(
    "text_ngrams",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
         b AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg FROM t)
    SELECT doc_id,
           CAST(generate_subscripts(bg, 1) - 1 AS INT) AS pos,
           unnest(bg) AS bigram
    FROM b ORDER BY doc_id, pos
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_ngrams (generate_ngrams.hpp:59): word bigrams, exploded with
    position (explode_position, lists/explode.hpp:108)."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    bigrams = T.word_ngrams(F.col("toks"), 2)
    return (
        docs.select("doc_id", F.posexplode(bigrams).alias("pos", "bigram"))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "bigram")
        .orderBy("doc_id", "pos")
    )


@register(
    "dedup_exact",
    sql=f"""
    SELECT sha256(substring({SQL_NORM}, 1, 60)) AS content_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY 1 ORDER BY canonical_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (distinct + sha2; stream_compaction
    distinct + hashing.hpp sha256). Keyed on a normalized prefix so the
    fixture (unique texts, shared prefixes) produces real duplicate
    groups."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs, "doc_id", F.substring(T.normalize_text("text"), 1, 60))
        .orderBy("canonical_id")
    )


_NEW_SOURCES = [f"src{i}" for i in range(15, 20)]
_NEW_IN = ", ".join(f"'{s}'" for s in _NEW_SOURCES)


@register(
    "dedup_incremental",
    sql=f"""
    WITH n AS (SELECT doc_id, source,
                      sha256(substring({SQL_NORM}, 1, 60)) AS h
               FROM documents),
         corpus AS (SELECT DISTINCT h FROM n WHERE source NOT IN ({_NEW_IN})),
         newb AS (SELECT * FROM n WHERE source IN ({_NEW_IN}))
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM newb WHERE h NOT IN (SELECT h FROM corpus))
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators/dedup.incremental_dedup): treat
    src15..src19 as a freshly-delivered batch and the other 15 sources as
    the already-ingested corpus; keep the new docs whose (normalized-
    prefix) content hash is unseen in the corpus AND first within the
    batch.  The per-drop ingestion step of a growing corpus — the corpus
    side travels as distinct 32-byte hashes, never text."""
    docs = load_table(spark, sf_dir, "documents")
    content = F.substring(T.normalize_text("text"), 1, 60)
    new_b = docs.filter(F.col("source").isin(*_NEW_SOURCES))
    corpus = docs.filter(~F.col("source").isin(*_NEW_SOURCES))
    return (
        D.incremental_dedup(new_b, corpus, "doc_id", content, content)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "dedup_neardup_pairs",
    sql=f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
         e AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM s),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS inter
               FROM e a JOIN e b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1,2,3,4)
    SELECT id_a, id_b, CAST(inter AS DOUBLE)/(n_a + n_b - inter) AS jaccard
    FROM p WHERE CAST(inter AS DOUBLE)/(n_a + n_b - inter) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs (jaccard_index, nvtext/jaccard.hpp:73) on word-
    trigram sets via prefix-filtered inverted-index join — the
    oracle-checkable dedup path; LSH below approximates exactly this."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    trigrams = T.word_ngrams(F.col("toks"), 3)
    return (
        D.neardup_pairs_exact(docs, "doc_id", trigrams, threshold=0.5)
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_minhash_lsh",
    sql=f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
         e AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM s),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS inter
               FROM e a JOIN e b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1,2,3,4)
    SELECT id_a, id_b, CAST(inter AS DOUBLE)/(n_a + n_b - inter) AS jaccard
    FROM p WHERE CAST(inter AS DOUBLE)/(n_a + n_b - inter) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (minhash.hpp:72-213 + banding) — the
    100 TB path: fixed-size signatures, bucket join, exact-jaccard
    verification of candidates.

    Oracle: the exact all-pairs Jaccard SQL.  Valid because the pipeline is
    fully deterministic (fixed seeds) and recall on the fixtures is exactly
    100% — verified pairs = the exact pair set, stable across runs; the
    differential recall bound is additionally asserted in
    tests/test_dedup.py on planted data."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    trigrams = T.word_ngrams(F.col("toks"), 3)
    return (
        D.minhash_lsh_pairs(docs, "doc_id", trigrams, threshold=0.5, num_hashes=64, bands=16)
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_simhash",
    sql=f"""
    WITH tok AS (SELECT doc_id, unnest(string_split({SQL_NORM}, ' ')) AS t
                 FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    votes AS (SELECT doc_id, r.b AS b,
                     SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN range(60) r(b) GROUP BY 1, 2),
    sig AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << b)
                                    ELSE 0::BIGINT END) AS sh
            FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤3 near-dup pairs (north star) — banded candidate
    join + popcount filter.

    Oracle-checkable because (a) the pigeonhole banding is complete (the
    output is every pair at distance ≤3, no sampling), and (b) the token
    hash is md5-derived (dedup.md5_hash60) so DuckDB recomputes the exact
    signatures bit-for-bit.  The xxhash64 default stays the library fast
    path; unit tests cover it."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return (
        D.simhash_pairs(
            docs, "doc_id", F.col("toks"), max_hamming=3, hash_expr=D.md5_hash60
        )
        .orderBy("id_a", "id_b")
    )


# minhash64_ngrams permutation parameters (a, b) — fixed Mersenne draws
# shared verbatim by the Spark expressions and the SQL oracle below.
import random as _random

_MNG_RNG = _random.Random(42)
_MNG_A = [_MNG_RNG.randrange(1, (1 << 61) - 1) for _ in range(6)]
_MNG_B = [_MNG_RNG.randrange(0, (1 << 61) - 1) for _ in range(6)]
_MNG_LANES_SQL = ",\n           ".join(
    f"MIN(((hv * {a}::HUGEINT + {b}::HUGEINT) % 2305843009213693951::HUGEINT)::BIGINT) AS m{i}"
    for i, (a, b) in enumerate(zip(_MNG_A, _MNG_B))
)


@register(
    "text_minhash_ngrams",
    sql=f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
    e AS (SELECT doc_id, unnest(g) AS gram FROM s WHERE len(g) > 0),
    h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT::HUGEINT AS hv FROM e)
    SELECT doc_id,
           {_MNG_LANES_SQL}
    FROM h GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_minhash_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash64_ngrams formula parity (nvtext/minhash.hpp:180-213): per
    word-trigram hash hv, lane i takes min((hv*a[i]+b[i]) % (2^61-1)).
    Spark runs the modular product exactly in decimal(38,0), DuckDB in
    HUGEINT; the md5-derived gram hash makes hv itself cross-engine.
    Documents with fewer than 3 tokens have no grams and are omitted
    (both sides)."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    trigrams = T.word_ngrams(F.col("toks"), 3)
    # Persist our own gram frame: without this the query silently rode
    # dedup_minhash_lsh's cached (identical) subplan and its cost flipped
    # 6x whenever the LRU had evicted it in between.
    # Filter OUTSIDE the persist (r12): inside, the size() predicate is
    # pushed below the projection with the whole trigram pipeline inlined
    # on the pre-shuffle scan task (guide §7.2; measured 4.7 s vs 0.2 s).
    sets = D._persist(D._gram_sets(docs, "doc_id", trigrams)).filter(
        F.size("grams") > 0
    )
    out = D.minhash_ngrams_signatures(sets, _MNG_A, _MNG_B)
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


# Model-based quality scoring (north star): a fastText-style hashed
# linear classifier (Joulin et al. 2016) — the TRAINED-classifier stage
# CCNet/Gopher/Llama curation applies after heuristic filtering.  The
# weight vector below stands in for any trained linear model: fixed
# seeded draws shared VERBATIM by the Spark literal array and the SQL
# oracle, integer micro-units so the feature sum is exact in both engines.
import random as _qm_random

_QM_RNG = _qm_random.Random(1009)
_QM_NBUCKETS = 64
_QM_WEIGHTS = [_QM_RNG.randrange(-900000, 900001) for _ in range(_QM_NBUCKETS)]
_QM_BIAS_MICRO = 75000  # centers the fixture logit distribution near 0
_QM_W_SQL = "[" + ", ".join(f"{w}::BIGINT" for w in _QM_WEIGHTS) + "]"


@register(
    "text_quality_model",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    f AS (SELECT doc_id,
                 list_concat(toks, list_transform(range(1, len(toks)),
                                                  i -> toks[i] || ' ' || toks[i+1])) AS feats
          FROM t),
    s AS (SELECT doc_id, len(feats) AS nf,
                 list_sum(list_transform(feats,
                   g -> ({_QM_W_SQL})[(('0x' || substr(md5(g), 1, 15))::BIGINT % {_QM_NBUCKETS}) + 1])) AS sm
          FROM f),
    l AS (SELECT doc_id, nf,
                 CASE WHEN nf > 0
                      THEN sm::DOUBLE / 1000000.0 / nf + ({_QM_BIAS_MICRO}::DOUBLE / 1000000.0)
                 END AS logit
          FROM s)
    SELECT doc_id, CAST(nf AS BIGINT) AS n_feat, ROUND(logit, 6) AS logit,
           CAST(CASE WHEN logit IS NULL THEN NULL
                     WHEN logit > 0 THEN 1 ELSE 0 END AS INT) AS keep
    FROM l ORDER BY doc_id
    """,
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: hashed linear classifier
    (text.classifier_logit) over word unigram+bigram features — the
    fastText scoring layout, pure whole-stage-codegen Column exprs, zero
    UDF, zero shuffle.

    Oracle-exact because (a) the gram hash is md5-derived
    (dedup.md5_hash60, the SimHash convention) so DuckDB recomputes every
    bucket index bit-for-bit, (b) weights are integer micro-units so the
    feature sum is an exact integer fold in both engines, and (c) the
    only float arithmetic is one division sequence + bias add, identical
    IEEE ops in both.  ``keep`` is the logit>0 threshold filter a real
    pipeline would apply.  The xxhash64 default and the broadcast-join
    bulk twin (classifier_logit_bulk) are unit-tested bit-identical."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    docs = docs.withColumn("feats", T.classifier_features(F.col("toks"), max_n=2))
    scored = docs.withColumn(
        "__logit",
        T.classifier_logit(
            F.col("feats"), _QM_WEIGHTS, _QM_BIAS_MICRO, hash_expr=D.md5_hash60
        ),
    )
    return scored.select(
        "doc_id",
        F.size("feats").cast("long").alias("n_feat"),
        F.round("__logit", 6).alias("logit"),
        (F.col("__logit") > 0).cast("int").alias("keep"),
    ).orderBy("doc_id")


# classifier LEARNING (round 7): hyperparameters shared verbatim by the
# Spark training loop and the unrolled SQL oracle.
_CL_NBUCKETS = 32
_CL_ITERS = 3
_CL_LR = 0.5


def _classifier_learn_ctes() -> tuple[str, str, str]:
    """Unrolled DuckDB twin of text.learn_linear_classifier as a WITH-body
    prefix shared by the learn and train-apply oracles: every iteration's
    prediction/gradient/update CTE chain repeats the exact arithmetic the
    Spark loop runs (integer weight sums, one float residual sequence,
    DECIMAL(28,9) gradient sums, floor-based integer updates), so the
    trained model is bit-identical across engines.  Returns (cte_body,
    final_weights_cte, final_bias_cte)."""
    from my_cudf_spark.functions.stable import sql_dec2dbl
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN, SQL_QUALITY

    nb = _CL_NBUCKETS
    lr6 = _CL_LR * 1000000.0
    its = ""
    pw, pb = "w0", "b0"
    for i in range(1, _CL_ITERS + 1):
        its += f"""
    p{i} AS (SELECT e.doc_id, ANY_VALUE(e.y) AS y, ANY_VALUE(e.nf) AS nf,
                    CAST(SUM(w.w_micro) AS BIGINT) AS sm
             FROM ex e JOIN {pw} w USING (bucket) GROUP BY e.doc_id),
    r{i} AS (SELECT p.doc_id,
                    CAST(p.sm AS DOUBLE)/1000000.0/p.nf
                      + CAST(b.b_micro AS DOUBLE)/1000000.0 - p.y AS r
             FROM p{i} p, {pb} b),
    g{i} AS (SELECT e.bucket, SUM(CAST(ROUND(r.r / e.nf, 9) AS DECIMAL(28,9))) AS s
             FROM ex e JOIN r{i} r USING (doc_id) GROUP BY e.bucket),
    w{i} AS (SELECT w.bucket,
                    CASE WHEN g.s IS NULL THEN w.w_micro
                         ELSE w.w_micro - CAST(FLOOR(({lr6} / st.n) * {sql_dec2dbl('g.s')} + 0.5) AS BIGINT)
                    END AS w_micro
             FROM {pw} w CROSS JOIN stats st LEFT JOIN g{i} g ON w.bucket = g.bucket),
    bg{i} AS (SELECT SUM(CAST(ROUND(r, 9) AS DECIMAL(28,9))) AS s FROM r{i}),
    b{i} AS (SELECT b.b_micro - CAST(FLOOR(({lr6} / st.n) * {sql_dec2dbl('bg.s')} + 0.5) AS BIGINT) AS b_micro
             FROM {pb} b, bg{i} bg, stats st),"""
        pw, pb = f"w{i}", f"b{i}"

    body = f"""scored AS (
      SELECT doc_id, source, text, {SQL_QUALITY} AS q
      FROM (SELECT doc_id, source, text, length(text) AS n,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                   length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
            FROM documents)),
    base AS (
      SELECT doc_id, source,
             CASE WHEN q >= {QUALITY_MIN} THEN 1.0 ELSE 0.0 END AS y, feats
      FROM (SELECT doc_id, source, q,
                   list_concat(toks, list_transform(range(1, len(toks)),
                                                    i -> toks[i] || ' ' || toks[i+1])) AS feats
            FROM (SELECT doc_id, source, q, string_split({SQL_NORM}, ' ') AS toks FROM scored))
      WHERE len(feats) > 0),
    ex AS (
      SELECT doc_id, y, nf,
             CAST(('0x' || substr(md5(g), 1, 15))::BIGINT % {nb} AS INT) AS bucket
      FROM (SELECT doc_id, y, len(feats) AS nf, unnest(feats) AS g FROM base)),
    stats AS (SELECT COUNT(*) AS n FROM base),
    w0 AS (SELECT CAST(range AS INT) AS bucket, 0::BIGINT AS w_micro FROM range({nb})),
    b0 AS (SELECT 0::BIGINT AS b_micro),{its}"""
    return body, pw, pb


def _classifier_learn_sql() -> str:
    body, pw, pb = _classifier_learn_ctes()
    return f"""
    WITH {body}
    cnt AS (SELECT bucket, COUNT(*) AS n_feats FROM ex GROUP BY bucket)
    SELECT w.bucket, w.w_micro, CAST(COALESCE(c.n_feats, 0) AS BIGINT) AS n_feats
    FROM {pw} w LEFT JOIN cnt c USING (bucket)
    UNION ALL
    SELECT CAST(-1 AS INT), b.b_micro, CAST(st.n AS BIGINT) FROM {pb} b, stats st
    ORDER BY bucket
    """


@register("text_classifier_learn", sql=_classifier_learn_sql())
def text_classifier_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING (text.learn_linear_classifier): distill the
    heuristic quality labels into a fastText-style hashed linear model by
    distributed full-batch gradient descent — the learning counterpart of
    text_quality_model's apply step, exactly as text_bpe_learn is to
    text_bpe.  Real curation stacks (CCNet, Llama) train this stage on
    seed labels, then score the corpus with it; this engine owns both
    halves, and because every update is exact integer/decimal arithmetic
    the TRAINED WEIGHTS themselves are oracle-checked bit-for-bit, not
    just spot losses.

    Output: one row per hash bucket (bucket, w_micro, n_feats) after 3
    iterations, plus the learned bias as bucket = -1 (n_feats = training
    doc count).  Scale: the exploded feature frame is the corpus token
    stream (persisted once); each iteration adds two small-key shuffles
    and an O(n_buckets) update — weights are never shuffled and never
    touch the driver."""
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN

    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    # Filter BELOW the feature projection: feats ⊇ toks, so
    # size(feats) > 0 ⟺ size(toks) > 0 (the oracle's len(feats) > 0) —
    # and a size(feats) predicate ABOVE it would be pushdown-substituted
    # through the projection, inlining the normalize+split chain into the
    # per-element ngram lambda (the _with_tokens 15× lesson).
    base = (
        # text IS NOT NULL ⟺ size(toks) > 0: split() of any non-null
        # string yields ≥ 1 element, so the cheap scan-pushable predicate
        # is row-for-row equivalent to the old size(toks) > 0 — which was
        # being pushdown-substituted below the projection with the
        # normalize+split chain inlined per row (r12, guide §7.2).
        docs.filter(F.col("text").isNotNull())
        .withColumn("feats", T.classifier_features(F.col("toks"), max_n=2))
        .select(
            "doc_id",
            (T.quality_score("text") >= QUALITY_MIN).cast("double").alias("y"),
            "feats",
        )
    )
    weights, bias = T.learn_linear_classifier(
        base,
        "doc_id",
        "feats",
        "y",
        n_buckets=_CL_NBUCKETS,
        n_iters=_CL_ITERS,
        lr=_CL_LR,
        hash_expr=D.md5_hash60,
    )
    cnt = (
        base.select(F.explode("feats").alias("g"))
        .withColumn(
            "bucket", F.pmod(D.md5_hash60(F.col("g")), F.lit(_CL_NBUCKETS)).cast("int")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_feats"))
    )
    out = weights.join(cnt, "bucket", "left").select(
        "bucket",
        "w_micro",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
    )
    bias_row = bias.select(
        F.lit(-1).cast("int").alias("bucket"),
        F.col("b_micro").alias("w_micro"),
        F.col("n_docs").cast("long").alias("n_feats"),
    )
    return out.unionByName(bias_row).orderBy("bucket")


def _classifier_train_apply_sql() -> str:
    """Train-then-apply oracle: the shared learning CTE chain, then the
    final weights score the SAME corpus (the bulk-apply formula
    sm/1e6/nf + b/1e6) and a per-source distillation-fidelity report."""
    from my_cudf_spark.functions.stable import sql_dec2dbl

    body, pw, pb = _classifier_learn_ctes()
    return f"""
    WITH {body}
    sc AS (SELECT e.doc_id, ANY_VALUE(e.y) AS y, ANY_VALUE(e.nf) AS nf,
                  CAST(SUM(w.w_micro) AS BIGINT) AS sm
           FROM ex e JOIN {pw} w USING (bucket) GROUP BY e.doc_id),
    lg AS (SELECT s.doc_id, b2.source, s.y,
                  CAST(s.sm AS DOUBLE)/1000000.0/s.nf
                    + CAST(b.b_micro AS DOUBLE)/1000000.0 AS logit
           FROM sc s JOIN base b2 USING (doc_id) CROSS JOIN {pb} b)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN logit > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
           CAST(SUM(CASE WHEN (logit > 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           {sql_dec2dbl('SUM(CAST(ROUND(logit, 6) AS DECIMAL(18,6)))')} / COUNT(*) AS avg_logit
    FROM lg GROUP BY source ORDER BY source
    """


@register("text_classifier_train_apply", sql=_classifier_train_apply_sql())
def text_classifier_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distill-then-apply loop as ONE lazy DAG (the CCNet/Llama stage
    pair): train the hashed linear classifier on the heuristic labels
    (text.learn_linear_classifier) and score the corpus with the LEARNED
    weights (text.classifier_logit_bulk) — weights flow from training
    into scoring as a broadcast frame, never through the driver (the
    learned bias rides a 1-row crossJoin; adding the bulk scorer's 0.0
    placeholder bias is an exact float no-op, so the composed logit is
    the oracle's one-shot formula bit-for-bit).  Output: per-source
    distillation fidelity — docs, predicted-positive count, agreement
    with the heuristic teacher at the 0.5 squared-loss threshold, mean
    logit.

    Scale: the labeled feature frame persists ONCE (shared LRU) and
    feeds training (3 one-job iterations, only the 65-row gradient
    shuffle each) AND the apply pass (one broadcast join + per-doc
    groupBy) — the whole train→apply composition adds exactly one
    corpus-sized shuffle beyond training itself."""
    from my_cudf_spark.queries.pipeline_queries import QUALITY_MIN

    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    base = (
        # text IS NOT NULL ⟺ size(toks) > 0 (see text_classifier_learn)
        docs.filter(F.col("text").isNotNull())
        .withColumn("feats", T.classifier_features(F.col("toks"), max_n=2))
        .select(
            "doc_id",
            "source",
            (T.quality_score("text") >= QUALITY_MIN).cast("double").alias("y"),
            "feats",
        )
    )
    w, b = T.learn_linear_classifier(
        base,
        "doc_id",
        "feats",
        "y",
        n_buckets=_CL_NBUCKETS,
        n_iters=_CL_ITERS,
        lr=_CL_LR,
        hash_expr=D.md5_hash60,
    )
    scored = T.classifier_logit_bulk(
        base, "doc_id", "feats", w, n_buckets=_CL_NBUCKETS, bias_micro=0,
        hash_expr=D.md5_hash60,
    )
    lg = (
        scored.crossJoin(F.broadcast(b.select("b_micro")))
        .withColumn(
            "logit",
            F.col("logit") + F.col("b_micro").cast("double") / F.lit(1000000.0),
        )
        .join(base.select("doc_id", "source", "y"), "doc_id")
    )
    pos = F.col("logit") > 0.5
    return (
        lg.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_pred_pos"),
            F.sum(F.when(pos == (F.col("y") == 1.0), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
            (
                F.sum(F.round("logit", 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_logit"),
        )
        .orderBy("source")
    )


@register(
    "text_stemmer",
    sql="""
    SELECT doc_id,
           len(regexp_extract_all(lower(string_split(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ')[1]), '[aeiouy]+[^aeiouy]+')) AS m_first
    FROM documents ORDER BY doc_id
    """,
)
def text_stemmer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """porter_stemmer_measure (stemmer.hpp:80) on each document's first
    normalized token."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.porter_stemmer_measure(F.element_at("toks", 1)).cast("long").alias("m_first"),
    ).orderBy("doc_id")


VOCAB = ["table", "query", "spark", "fast", "value"]


@register(
    "text_vocab_tokenize",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents)
    SELECT doc_id,
           array_to_string(
             list_transform(toks, x -> CAST(COALESCE(list_position({VOCAB!r}, x) - 1, -1) AS VARCHAR)),
             ',') AS ids,
           len(list_filter(toks, x -> list_contains({VOCAB!r}, x))) AS n_known
    FROM t ORDER BY doc_id
    """,
)
def text_vocab_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize_with_vocabulary (tokenize.hpp:273): token → vocab id with
    OOV = -1, plus the count of in-vocabulary tokens."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    ids = T.tokens_to_vocab_ids(F.col("toks"), VOCAB)
    known = F.size(F.filter(ids, lambda i: i >= 0))
    return docs.select(
        "doc_id",
        F.array_join(F.transform(ids, lambda i: i.cast("string")), ",").alias("ids"),
        known.cast("long").alias("n_known"),
    ).orderBy("doc_id")


@register(
    "text_token_ops",
    sql=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(toks,
             x -> CASE WHEN x = 'fast' THEN 'quick'
                       WHEN x = 'slow' THEN 'sluggish' ELSE x END), ' ') AS replaced,
           array_to_string(list_filter(toks, x -> length(x) >= 5), ' ') AS long_only
    FROM t ORDER BY doc_id
    """,
)
def text_token_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace_tokens / filter_tokens / detokenize (nvtext/replace.hpp:87/
    :136, tokenize.hpp:181): all higher-order array expressions over one
    materialized token projection — narrow, JVM-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    return d.select(
        "doc_id",
        T.detokenize(
            T.replace_tokens(F.col("toks"), {"fast": "quick", "slow": "sluggish"})
        ).alias("replaced"),
        T.detokenize(T.filter_tokens(F.col("toks"), 5)).alias("long_only"),
    ).orderBy("doc_id")


@register(
    "text_edit_matrix",
    sql=r"""
    WITH w AS (SELECT DISTINCT string_split_regex(trim(text), '\s+')[1] AS w
               FROM documents WHERE text IS NOT NULL)
    SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
    FROM w a JOIN w b ON a.w < b.w ORDER BY w1, w2
    """,
)
def text_edit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edit_distance_matrix (nvtext/edit_distance.hpp:101): pairwise
    Levenshtein over the distinct leading tokens.  The distinct side is
    vocabulary-sized, so it broadcasts and the quadratic pair expansion
    happens in a BroadcastNestedLoopJoin — no shuffle of the corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = docs.select(
        F.element_at(F.split(F.trim(F.col("text")), r"\s+"), 1).alias("w")
    ).distinct()
    pairs = w.select(F.col("w").alias("w1")).join(
        F.broadcast(w.select(F.col("w").alias("w2"))), F.col("w1") < F.col("w2")
    )
    return pairs.select(
        "w1", "w2", F.levenshtein("w1", "w2").cast("int").alias("dist")
    ).orderBy("w1", "w2")


# --- Real BPE / WordPiece (byte_pair_encoding.hpp:97, wordpiece_tokenize
# .hpp:71) over the p_name vocabulary (16 fixed words, 2 per name). The
# merges/vocab tables are fixed model artifacts; the oracle maps each WORD
# to its independently hand-checked encoding (BPE factorizes across the
# space piece — bpe_tests.cpp:52 "this-istestsentence 3" pins the
# three-space join), so DuckDB reconstructs the full-string encoding
# without re-running the merge loop.  The algorithm itself is pinned to
# the reference's own test vectors in tests/test_bpe.py.

BPE_MERGES = [
    "o l", "l d", "ol d",
    "i n", "n g", "in g", "r ing",
    "e a", "g ea", "gea r",
    "b o", "l t", "bo lt",
    "r o", "ro d",
    "h o", "ho t",
    "n e", "ne w",
    "r e",
    "a l", "al l", "s m", "sm all",
    "l u", "lu e", "b lue",
    "g e", "e t", "ge t", "w id",
    "i d", "wid get",
    "a r", "l ar", "lar ge",
    "a t", "p l", "pl at", "plat e",
    "i z", "iz mo", "m o", "g izmo",
    "a n", "v i", "vi l",
    "c o", "co ld",
]

# word -> (bpe pieces joined ' ', wordpiece ids joined ',') — hand-checked
# against the merge ranks (e.g. bolt: "o l" rank 0 fires before "b o"/"l t"
# can, so bolt = b ol t, never bo lt; cold: ol then "ol d" -> c old).
_WORD_ENC = {
    "anvil": ("an vil", "17,18"), "blue": ("blue", "5"),
    "bolt": ("b ol t", "0"), "cold": ("c old", "10,11"),
    "gear": ("gear", "6,7"), "gizmo": ("gizmo", "6,8"),
    "hot": ("hot", "12"), "large": ("large", "14"),
    "new": ("new", "13"), "old": ("old", "9"),
    "plate": ("plate", "15"), "red": ("re d", "3"),
    "ring": ("ring", "2"), "rod": ("rod", "16"),
    "small": ("small", "1"), "widget": ("widget", "4"),
}

WP_VOCAB = ["[UNK]", "small", "ring", "red", "widget", "blue", "g", "##ear",
            "##izmo", "old", "c", "##old", "hot", "new", "large", "plate",
            "rod", "an", "##vil"]

_BPE_VALUES = ", ".join(f"('{w}', '{b}')" for w, (b, _) in sorted(_WORD_ENC.items()))
_WP_VALUES = ", ".join(f"('{w}', '{i}')" for w, (_, i) in sorted(_WORD_ENC.items()))


@register(
    "text_bpe",
    sql=f"""
    WITH m AS (SELECT * FROM (VALUES {_BPE_VALUES}) AS t(w, enc)),
    p AS (SELECT DISTINCT p_name,
                 string_split(p_name, ' ')[1] AS w1,
                 string_split(p_name, ' ')[2] AS w2 FROM part)
    SELECT p.p_name AS p_name, m1.enc || '   ' || m2.enc AS bpe
    FROM p JOIN m m1 ON p.w1 = m1.w JOIN m m2 ON p.w2 = m2.w
    ORDER BY p_name
    """,
)
def text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real byte-pair encoding (byte_pair_encoding.hpp:97; replaces the
    bpe_token_count estimate as the headline tokenizer): distinct p_name
    strings encoded against the fixed BPE_MERGES table, pieces joined by
    ' ' with the original space a standalone piece (bpe_tests.cpp:58)."""
    from my_cudf_spark.functions import bpe as B

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    return names.select(
        "p_name", B.byte_pair_encode("p_name", BPE_MERGES).alias("bpe")
    ).orderBy("p_name")


@register(
    "text_wordpiece",
    sql=f"""
    WITH m AS (SELECT * FROM (VALUES {_WP_VALUES}) AS t(w, ids)),
    p AS (SELECT DISTINCT p_name,
                 string_split(p_name, ' ')[1] AS w1,
                 string_split(p_name, ' ')[2] AS w2 FROM part)
    SELECT p.p_name AS p_name,
           m1.ids || ',' || m2.ids AS ids,
           CAST(len(string_split(m1.ids, ',')) + len(string_split(m2.ids, ','))
                AS BIGINT) AS n_tokens,
           m1.ids AS ids_first_word
    FROM p JOIN m m1 ON p.w1 = m1.w JOIN m m2 ON p.w2 = m2.w
    ORDER BY p_name
    """,
)
def text_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization (wordpiece_tokenize.hpp:71): greedy
    longest-match-first ids over WP_VOCAB, '##' continuation pieces
    (gear -> g + ##ear), plus the max_words_per_row=1 truncated variant
    from the hpp example."""
    from my_cudf_spark.functions import bpe as B

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    toks = names.select(
        "p_name",
        B.wordpiece_tokenize("p_name", WP_VOCAB).alias("toks"),
        B.wordpiece_tokenize("p_name", WP_VOCAB, max_words_per_row=1).alias("t1"),
    )
    return toks.select(
        "p_name",
        F.array_join(F.transform("toks", lambda i: i.cast("string")), ",").alias("ids"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.array_join(F.transform("t1", lambda i: i.cast("string")), ",").alias(
            "ids_first_word"
        ),
    ).orderBy("p_name")


@register(
    "text_char_tokenize",
    sql="""
    SELECT c AS ch, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(p_name, '')) AS c
          FROM (SELECT DISTINCT p_name FROM part))
    GROUP BY c ORDER BY ch
    """,
)
def text_char_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """character_tokenize (nvtext/tokenize.hpp:187): every character of the
    distinct p_name strings becomes a token; the flat (exploded) form with
    frequency counts — explode is a narrow generate, the count is one
    map-side-partial shuffle."""
    from my_cudf_spark.functions.text import character_tokenize

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    return (
        names.select(F.explode(character_tokenize("p_name")).alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("ch")
    )


# BERT-style subword tensors (subword_tokenize.hpp:150) over documents:
# 31-word corpus vocabulary; 'window' splits to win + ##dow, 'merge' is
# deliberately out-of-vocab -> [UNK]=0.  tests/test_bpe.py pins the literal
# word->ids mapping used by the oracle to the wordpiece algorithm.
SUBWORD_VOCAB = [
    "[UNK]", "a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "win", "##dow",
]
_SUBWORD_CASE = (
    "CASE "
    + " ".join(
        f"WHEN w = '{w}' THEN [{i}]"
        for i, w in enumerate(SUBWORD_VOCAB)
        if w != "[UNK]" and not w.startswith("##")
    )
    + " WHEN w = 'window' THEN [30, 31] ELSE [0] END"
)
_SW_MAX, _SW_STRIDE = 32, 24


@register(
    "text_subword",
    sql=f"""
    WITH docs AS (SELECT doc_id, string_split(trim(text), ' ') AS ws
                  FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id,
                   flatten(list_transform(ws, w -> {_SUBWORD_CASE})) AS ids
            FROM docs),
    st AS (SELECT doc_id, ids, len(ids) AS n,
                  unnest(list_filter(list_transform(range(0, 10), k -> k * {_SW_STRIDE}),
                                     s -> s = 0 OR s + {_SW_MAX - _SW_STRIDE} < n)) AS start
           FROM tok),
    win AS (SELECT doc_id, CAST(start // {_SW_STRIDE} AS INT) AS seq,
                   list_slice(ids, start + 1, start + {_SW_MAX}) AS sl, n, start
            FROM st)
    SELECT doc_id, seq,
           array_to_string(list_concat(sl, list_transform(range(0, {_SW_MAX} - len(sl)), x -> 0)), ',') AS token_ids,
           array_to_string(list_concat(list_transform(range(0, len(sl)), x -> 1),
                                       list_transform(range(0, {_SW_MAX} - len(sl)), x -> 0)), ',') AS attention_mask,
           CAST(len(sl) AS INT) AS n_valid,
           CAST(start AS INT) AS start_pos,
           CAST(least(start + {_SW_MAX}, n) - 1 AS INT) AS stop_pos
    FROM win ORDER BY doc_id, seq
    """,
)
def text_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subword_tokenize (subword_tokenize.hpp:150): fixed-size BERT tensor
    rows — padded token ids + attention mask + (start, stop) metadata —
    with overlapping stride-24 windows of length 32.  One pandas_udf pass
    for WordPiece; windowing is JVM-side (sequence/filter/explode/slice)."""
    from my_cudf_spark.functions import bpe as B

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = B.subword_tokenize(
        docs, "text", SUBWORD_VOCAB, ["doc_id"],
        max_sequence_length=_SW_MAX, stride=_SW_STRIDE,
    )
    return out.select(
        "doc_id",
        "seq",
        F.array_join(F.transform("token_ids", lambda i: i.cast("string")), ",").alias("token_ids"),
        F.array_join(F.transform("attention_mask", lambda i: i.cast("string")), ",").alias("attention_mask"),
        "n_valid",
        "start_pos",
        "stop_pos",
    ).orderBy("doc_id", "seq")


@register(
    "pack_documents",
    sql="""
    WITH t AS (SELECT doc_id,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
          FROM t)
    SELECT doc_id, n_tokens, start_offset,
           CAST(start_offset // 512 AS BIGINT) AS pack_id,
           CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS end_pack_id,
           (start_offset + n_tokens - 1) // 512 > start_offset // 512 AS straddle
    FROM c ORDER BY doc_id
    """,
)
def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk) of documents into 512-token
    training sequences: global token offsets via the two-phase distributed
    cumsum (operators/packing.py — no single-partition window), then pack
    assignment is pure arithmetic."""
    from my_cudf_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(t, "doc_id", "n_tokens", 512).select(
        "doc_id", "n_tokens", "start_offset", "pack_id", "end_pack_id", "straddle"
    ).orderBy("doc_id")


@register(
    "pack_documents_bestfit",
    sql="""
    WITH t AS (SELECT doc_id,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
               FROM documents WHERE text IS NOT NULL),
    a AS (SELECT doc_id, n_tokens,
                 CAST(CASE WHEN n_tokens > 512 THEN 0
                           ELSE 512 // n_tokens END AS BIGINT) AS size_class,
                 CAST(doc_id % 4 AS BIGINT) AS shard
          FROM t WHERE n_tokens > 0),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY size_class, shard
                                       ORDER BY n_tokens DESC, doc_id) - 1 AS rn
          FROM a)
    SELECT doc_id, n_tokens, size_class, shard,
           CAST(rn // GREATEST(1, size_class) AS BIGINT) AS pack_idx,
           CAST(rn % GREATEST(1, size_class) AS INT) AS slot
    FROM r ORDER BY doc_id
    """,
)
def pack_documents_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split sequence packing (packing.pack_bestfit): harmonic
    size-classed first-fit-decreasing into 512-token packs — documents
    land whole (padding bounded by the k/(k+1) class-fill guarantee)
    instead of straddling chunk boundaries as in pack_documents.  Class
    assignment and within-class packing are pure arithmetic on one
    (class, shard) window; shards=4 exercises the skew knob that bounds
    each window partition at corpus scale."""
    from my_cudf_spark.operators.packing import pack_bestfit

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_tokens"),
    )
    return pack_bestfit(t, "doc_id", "n_tokens", 512, shards=4).select(
        "doc_id", "n_tokens", "size_class", "shard", "pack_idx", "slot"
    ).orderBy("doc_id")


@register(
    "dedup_clusters",
    sql=f"""
    WITH RECURSIVE
    s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
    e AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM s),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS inter
          FROM e a JOIN e b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1,2,3,4),
    pairs AS (SELECT id_a, id_b FROM p
              WHERE CAST(inter AS DOUBLE)/(n_a + n_b - inter) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id,
           (id = MIN(r)) AS is_canonical
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup canonicalization: connected components over the exact near-dup
    pair graph (the step after jaccard.hpp:73 pair detection every dedup
    pipeline needs) — every document labeled with its cluster's min doc_id,
    singletons included; the DuckDB oracle recomputes components with a
    recursive CTE."""
    from my_cudf_spark.operators import clustering as C

    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    trigrams = T.word_ngrams(F.col("toks"), 3)
    pairs = D.neardup_pairs_exact(docs, "doc_id", trigrams, threshold=0.5)
    return C.dedup_clusters(docs, pairs, id_col="doc_id").orderBy("doc_id")


@register(
    "text_contamination",
    sql=f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g,
                      substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8) AS b
               FROM documents),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM s
              WHERE b < '0ccccccc' AND len(g) > 0),
    tr AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram FROM s
           WHERE b >= '0ccccccc' AND len(g) > 0)
    SELECT tr.doc_id AS doc_id,
           CAST(tr.n_grams AS BIGINT) AS n_grams,
           COUNT(bench.gram) AS n_overlap,
           ROUND(CAST(COUNT(bench.gram) AS DOUBLE) / tr.n_grams, 6) AS ratio,
           CAST(COUNT(bench.gram) AS DOUBLE) / tr.n_grams >= 0.2 AS contaminated
    FROM tr LEFT JOIN bench USING (gram)
    GROUP BY tr.doc_id, tr.n_grams ORDER BY doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): a deterministic
    5% hash slice of the corpus plays the eval set; every remaining
    document is scored by trigram overlap against it and flagged at
    ratio ≥ 0.2."""
    from my_cudf_spark.operators.decontam import contamination_report
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket

    th = _threshold_hex(0.05)
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    # Two consumers (bench slice + train slice) read this subtree; persist
    # it once via the dedup LRU or the trigram generation (the expensive
    # regex+split+ngram pass) runs twice.
    # size() filter OUTSIDE the persist (r12): see text_minhash_ngrams.
    sets = D._persist(
        docs.select(
            "doc_id",
            F.array_distinct(T.word_ngrams(F.col("toks"), 3)).alias("grams"),
            hash_bucket(["doc_id"]).alias("b"),
        )
    ).filter(F.size("grams") > 0)
    bench = sets.filter(F.col("b") < th).select(F.explode("grams").alias("gram"))
    train = sets.filter(F.col("b") >= th).select(F.col("doc_id").alias("id"), "grams")
    rep = contamination_report(train, bench, threshold=0.2)
    return rep.select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_overlap",
        F.round("ratio", 6).alias("ratio"),
        "contaminated",
    ).orderBy("doc_id")


# Shared with stream_decontam_replay: the streamed final snapshot is
# order-independent and equals this batch answer, so ONE oracle covers
# both the batch and streaming legs.
SQL_BLOOM_CONTAM = f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g,
                      substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8) AS b
               FROM documents),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM s
              WHERE b < '0ccccccc' AND len(g) > 0),
    setpos AS (SELECT DISTINCT
                   ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || gram), 1, 15))::BIGINT
                   % 32768 AS pos
               FROM bench, range(3) r(j)),
    tr AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram FROM s
           WHERE b >= '0ccccccc' AND len(g) > 0),
    probes AS (SELECT doc_id, n_grams, gram,
                   ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || gram), 1, 15))::BIGINT
                   % 32768 AS pos
               FROM tr, range(3) r(j)),
    hit AS (SELECT doc_id, n_grams, gram,
                   MIN(CASE WHEN setpos.pos IS NOT NULL THEN 1 ELSE 0 END) AS in_bloom
            FROM probes LEFT JOIN setpos USING (pos)
            GROUP BY doc_id, n_grams, gram)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(SUM(in_bloom) AS BIGINT) AS n_overlap,
           ROUND(CAST(SUM(in_bloom) AS DOUBLE) / n_grams, 6) AS ratio,
           CAST(SUM(in_bloom) AS DOUBLE) / n_grams >= 0.2 AS contaminated
    FROM hit GROUP BY doc_id, n_grams ORDER BY doc_id
    """


@register("text_contamination_bloom", sql=SQL_BLOOM_CONTAM)
def text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/decontam.bloom_contamination):
    same 5%-slice device as text_contamination, but the benchmark side is
    compressed to a 32 Kbit broadcast Bloom bitmap (k=3 md5 probes) instead
    of joining raw grams — the 100 TB shape, where the eval-suite gram set
    is too large to broadcast raw but its bitmap never is.  A gram counts
    as overlapping when ALL probe bits are set; the false-positive rate is
    part of the contract and the DuckDB oracle reproduces it bit-for-bit
    (membership in the distinct probe-position set == the bitmap test)."""
    from my_cudf_spark.operators.decontam import (
        bloom_contamination,
        bloom_filter_bits,
    )
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket

    th = _threshold_hex(0.05)
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    # size() filter OUTSIDE the persist (r12): see text_minhash_ngrams.
    sets = D._persist(
        docs.select(
            "doc_id",
            F.array_distinct(T.word_ngrams(F.col("toks"), 3)).alias("grams"),
            hash_bucket(["doc_id"]).alias("b"),
        )
    ).filter(F.size("grams") > 0)
    # No distinct on the bench side: bit_or is idempotent, so the bitmap
    # build skips the dedup shuffle the raw-gram join needs.
    bench = sets.filter(F.col("b") < th).select(F.explode("grams").alias("gram"))
    train = sets.filter(F.col("b") >= th).select(F.col("doc_id").alias("id"), "grams")
    rep = bloom_contamination(train, bloom_filter_bits(bench), threshold=0.2)
    return rep.select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round("ratio", 6).alias("ratio"),
        "contaminated",
    ).orderBy("doc_id")


@register(
    "text_quality_filter",
    sql=r"""
    WITH t AS (SELECT doc_id, lang,
                      ROUND(CASE WHEN length(text) > 0 THEN
                        (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)/length(text))*0.6
                        + (CASE WHEN (CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                                      /(length(regexp_replace(text, '[^ ]', '', 'g'))+1)) BETWEEN 3 AND 10
                           THEN 1.0 ELSE 0.0 END)*0.3
                        + LEAST(CAST(length(text) AS DOUBLE)/100.0, 1.0)*0.1
                      ELSE 0.0 END, 6) AS q
               FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n FROM t),
    th AS (SELECT lang, q AS th FROM r WHERE rn = CAST(ceil(0.25*n) AS BIGINT))
    SELECT t.doc_id AS doc_id, t.lang AS lang, t.q AS quality,
           t.q >= th.th AS kept
    FROM t JOIN th USING (lang) ORDER BY doc_id
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold quality filtering (the standard corpus-pruning
    step): drop each language's bottom quartile by quality score.  The
    threshold is the DISCRETE 0.25-quantile (rank-based, percentile_disc
    semantics) — an actual data value selected by row_number, so both
    engines agree exactly with zero interpolation float math.  Thresholds
    are a tiny per-lang dim joined back broadcast-style."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.quality_score("text").alias("q")
    )
    w = Window.partitionBy("lang").orderBy("q", "doc_id")
    wn = Window.partitionBy("lang")
    th = (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.ceil(0.25 * F.col("n")))
        .select("lang", F.col("q").alias("th"))
    )
    return (
        docs.join(F.broadcast(th), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("q").alias("quality"),
            (F.col("q") >= F.col("th")).alias("kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_tfidf",
    sql=f"""
    WITH toks AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS ts FROM documents),
    t AS (SELECT doc_id, unnest(ts) AS token FROM toks),
    tc AS (SELECT doc_id, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY 1),
    dfq AS (SELECT token, COUNT(*) AS dfreq FROM tc GROUP BY 1),
    nn AS (SELECT COUNT(*) AS nd FROM documents),
    s AS (SELECT tc.doc_id, tc.token,
                 (CAST(tc.c AS DOUBLE) / dl.n)
                   * ln((nn.nd + 1.0) / (dfq.dfreq + 1.0)) AS score
          FROM tc JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN nn),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, token) AS rk FROM s)
    SELECT doc_id, token, ROUND(score, 6) AS score, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 3 ORDER BY doc_id, rk
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term scoring (the classic corpus-statistics op the nvtext
    surface stops short of): smoothed idf = ln((N+1)/(df+1)), top-3 terms
    per document.  Three hash aggregations plus a broadcast of the scalar
    corpus size and the per-term df dim — no all-pairs, no collect; the
    df table is |vocab|-sized (bounded, Zipf-concentrated) so its join
    broadcast-sizes at any corpus scale."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode("toks").alias("token"))
    tc = t.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfq = tc.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    s = (
        tc.join(dl, "doc_id")
        .join(dfq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            (F.col("c").cast("double") / F.col("n"))
            * F.log((F.col("nd") + 1.0) / (F.col("dfreq") + 1.0)),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", F.round("score", 6).alias("score"), "rk")
        .orderBy("doc_id", "rk")
    )


REPETITION_SQL = """
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS l FROM documents),
tok AS (SELECT doc_id, unnest(l) AS tok FROM t),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
top AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
        FROM tc GROUP BY doc_id),
ex AS (
  SELECT doc_id,
    CASE WHEN len(l) > 0
         THEN 1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l)
         ELSE 0.0 END AS dup_token_frac,
    CASE WHEN len(l) >= 2
         THEN 1.0 - CAST(len(list_distinct(list_transform(range(1, len(l)),
                i -> l[i] || ' ' || l[i+1]))) AS DOUBLE) / (len(l) - 1)
         ELSE 0.0 END AS dup_2gram_frac,
    CASE WHEN len(l) >= 3
         THEN 1.0 - CAST(len(list_distinct(list_transform(range(1, len(l) - 1),
                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS DOUBLE) / (len(l) - 2)
         ELSE 0.0 END AS dup_3gram_frac
  FROM t)
SELECT ex.doc_id, dup_token_frac, dup_2gram_frac, dup_3gram_frac, top_token_frac
FROM ex JOIN top ON ex.doc_id = top.doc_id
ORDER BY ex.doc_id
"""


@register("text_repetition", sql=REPETITION_SQL)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    token / 2-gram / 3-gram fractions (pure Column expressions over the
    token array — zero shuffle) plus most-common-token fraction (one
    explode + two hash aggregations, linear in corpus size).  These are
    the standard pre-training repetition filters (e.g. Gopher table A1);
    the reference's nvtext surface stops at n-gram generation."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("l")
    )
    ex = docs.select(
        "doc_id",
        T.dup_token_fraction(F.col("l")).alias("dup_token_frac"),
        T.dup_ngram_fraction(F.col("l"), 2).alias("dup_2gram_frac"),
        T.dup_ngram_fraction(F.col("l"), 3).alias("dup_3gram_frac"),
    )
    tc = (
        docs.select("doc_id", F.explode("l").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_frac")
    )
    return (
        ex.join(top, "doc_id")
        .select("doc_id", "dup_token_frac", "dup_2gram_frac", "dup_3gram_frac",
                "top_token_frac")
        .orderBy("doc_id")
    )


OVERLAP_SQL = """
WITH st AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(string_split(trim(text), ' ')) AS tok FROM documents)),
cnt AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT src_a, src_b, inter, ca.n AS n_a, cb.n AS n_b,
       CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
FROM inter
JOIN cnt ca ON src_a = ca.source
JOIN cnt cb ON src_b = cb.source
ORDER BY src_a, src_b
"""


@register("corpus_overlap", sql=OVERLAP_SQL)
def corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix: token-set Jaccard for every
    source pair — the corpus-composition diagnostic run before mixing
    training sources.  Plan: one distinct over (source, token) (the only
    full-data shuffle), then a token equi-join whose posting lists are
    bounded by the number of sources (≤20 here, always ≪ corpus), so the
    pair expansion is O(vocab × sources²) regardless of document count."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
        .distinct()
    )
    # Posting-list pair expansion instead of a token self-join: one pass
    # builds the per-token source list, then ordered pairs expand inside
    # the array (|sources|² max per token) — no second shuffle of the
    # exploded frame, same shape as dedup._pairs_in_buckets.  The posting
    # frame is vocab-sized (bounded at any corpus scale), so it is LRU-
    # persisted and BOTH consumers (pair counts and per-source counts)
    # read it — documents is scanned exactly once (guarded in
    # tests/test_plans.py).
    posts = D._persist(
        st.groupBy("tok").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    )
    cnt = posts.select("tok", F.explode("ss").alias("source")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    inter = (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(ca, "src_a")
        .join(cb, "src_b")
        .select(
            "src_a", "src_b", "inter", "n_a", "n_b",
            (F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199;"
    " host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


@register(
    "text_pii_redact",
    sql=f"""
    WITH g AS (SELECT doc_id, {_PII_TEXT_SQL} AS raw FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
             '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(raw,
             '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(raw,
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT) AS n_ipv4
    FROM g ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.redact_pii): scrub emails / SSNs /
    phones / IPv4s to typed placeholders + per-kind match counts.  The
    fixtures carry no PII, so the query grafts deterministic synthetic PII
    (derived from doc_id) onto each document before scrubbing — the
    scrubber does real work and the oracle checks actual replacements.
    Pure JVM regexp chain (patterns in the Java∩RE2 subset), no UDF; one
    scan, no shuffle before the final order."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199; host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    g = docs.select("doc_id", raw.alias("raw"))
    return g.select(
        "doc_id",
        T.redact_pii("raw").alias("redacted"),
        T.pii_count("raw", "email").cast("long").alias("n_email"),
        T.pii_count("raw", "phone").cast("long").alias("n_phone"),
        T.pii_count("raw", "ipv4").cast("long").alias("n_ipv4"),
    ).orderBy("doc_id")


def _bpe_learn_sql(num_merges: int) -> str:
    """Generate the k-round chained-CTE oracle for learn_bpe_merges: each
    round re-derives adjacent-pair counts from the previous round's
    representation, picks (max count, lexicographically-min pair) and
    applies the merge with a literal left-to-right replace — the exact
    construction the Spark operator runs, one CTE pair per round."""
    parts = [
        f"WITH rep0 AS (SELECT doc_id,"
        f" ' ' || replace({SQL_NORM}, ' ', '  ') || ' ' AS rep FROM documents)"
    ]
    for r in range(1, num_merges + 1):
        prev = f"rep{r - 1}"
        parts.append(
            f"b{r} AS (SELECT pair, COUNT(*) AS n FROM ("
            f"  SELECT unnest(list_transform(range(1, len(tk)),"
            f"         i -> tk[i] || ' ' || tk[i+1])) AS pair"
            f"  FROM (SELECT string_split(trim(rep), '  ') AS tk FROM {prev}))"
            f" GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"
        )
        parts.append(
            f"rep{r} AS (SELECT doc_id,"
            f" replace(rep, ' ' || replace(b.pair, ' ', '  ') || ' ',"
            f"              ' ' || replace(b.pair, ' ', '@') || ' ') AS rep"
            f" FROM {prev}, b{r} b)"
        )
    union = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, pair, n AS n_occurrences FROM b{r}"
        for r in range(1, num_merges + 1)
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT * FROM ({union}) ORDER BY merge_round"
    )


@register("text_bpe_learn", sql=_bpe_learn_sql(6))
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge LEARNING (functions/bpe.learn_bpe_merges): six
    rounds of corpus-wide adjacent-pair counting at word level, each
    round's winner applied before the next — tokenizer TRAINING, the
    upstream step the reference lacks (it only applies a pretrained table,
    byte_pair_encoding.hpp:129).  Fully lazy: each winner is a 1-row
    broadcast into the next round's rewrite, per-round representations
    persisted.  Oracle replays the identical 6-round construction as a
    chained CTE."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", T.normalize_text("text").alias("norm"))
    merges, _ = B.learn_bpe_merges(norm, "norm", num_merges=6)
    return merges.select(
        "merge_round", "pair", "n_occurrences"
    ).orderBy("merge_round")


@register(
    "text_chunk_documents",
    sql=f"""
    WITH tk AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk
                FROM documents),
    st AS (SELECT doc_id, tk, len(tk) AS n,
                  unnest(list_filter(range(0, greatest(n, 1), 24),
                                     s -> s = 0 OR s + 8 < n)) AS s
           FROM tk)
    SELECT doc_id, CAST(s / 24 AS INTEGER) AS chunk_seq,
           array_to_string(list_slice(tk, s + 1, s + 32), ' ') AS chunk,
           CAST(len(list_slice(tk, s + 1, s + 32)) AS BIGINT) AS n_tokens
    FROM st ORDER BY doc_id, chunk_seq
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token document chunking
    (functions/text.chunk_documents): 32-token windows advancing by 24
    (8-token overlap) over normalized text — the corpus → context-window
    prep between raw documents and sequence packing.  Pure narrow
    higher-order Column expressions; the oracle replays the identical
    window rule with DuckDB list functions."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", T.normalize_text("text").alias("norm"))
    return T.chunk_documents(
        norm, ["doc_id"], "norm", max_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_seq")


@register(
    "text_lm_score",
    sql=f"""
    WITH tk AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk
                FROM documents),
    uni AS (SELECT w, COUNT(*) AS cu
            FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
    v AS (SELECT COUNT(*) AS v FROM uni),
    bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tk)),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((cb + 0.5) / (cu + 0.5 * v))), 6) AS avg_logprob
    FROM bg JOIN bgc USING (w1, w2) JOIN uni ON bg.w1 = uni.w CROSS JOIN v
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score (functions/text.ngram_lm_scores)
    trained on the corpus itself: add-0.5 smoothed avg log-prob per
    document — the perplexity-proxy filter signal between heuristic
    quality scoring and model-based filtering."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", T.normalize_text("text").alias("norm"))
    return T.ngram_lm_scores(norm, ["doc_id"], "norm").orderBy("doc_id")


_BM25_TERMS = ["join", "vector", "slow", "customer", "merge"]


@register(
    "text_bm25",
    sql=f"""
    WITH tk AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk
                FROM documents),
    lens AS (SELECT doc_id, len(tk) AS dl FROM tk),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest(tk) AS w FROM tk)
           WHERE w IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
           GROUP BY doc_id, w),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
    SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(SUM(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * (1.2 + 1.0)
                     / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
    FROM tf JOIN dfreq USING (w) JOIN lens USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval scoring (functions/text.bm25_scores) of every
    document against a five-term query — the sparse-retrieval half of a
    RAG stack beside vec_filtered_topk's dense half; term filtering lands
    before the tf shuffle so the aggregate carries only query-term hits."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", T.normalize_text("text").alias("norm"))
    return T.bm25_scores(norm, ["doc_id"], "norm", _BM25_TERMS).orderBy("doc_id")


@register(
    "text_vocab_build",
    sql=f"""
    WITH t AS (SELECT unnest(string_split({SQL_NORM}, ' ')) AS token
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT token, COUNT(*) AS n FROM t WHERE token <> '' GROUP BY 1),
    tot AS (SELECT SUM(n) AS tot FROM c),
    top AS (SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
            FROM c QUALIFY rank <= 32)
    SELECT CAST(rank AS INT) AS rank, token, CAST(n AS BIGINT) AS n,
           ROUND(CAST(SUM(n) OVER (ORDER BY rank) AS DOUBLE)
                 / (SELECT tot FROM tot), 6) AS coverage
    FROM top ORDER BY rank
    """,
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-vocabulary construction with cumulative corpus coverage —
    the tokenizer-prep step before BPE learning (functions/bpe.py): top-32
    normalized tokens by count, each with the fraction of all token
    occurrences a vocabulary truncated at that rank would cover.  One
    count shuffle + TakeOrderedAndProject for the top-k; the rank/cumsum
    windows run over the 32-row result only (bounded by vocab size, never
    corpus-global), and the corpus total rides a 1-row broadcast."""
    from pyspark.sql import Window

    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode("toks").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__tot"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(32)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn("__cum", F.sum("n").over(w))
        .join(F.broadcast(total), F.lit(True), "left")
        .select(
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.col("__cum").cast("double") / F.col("__tot").cast("double"), 6
            ).alias("coverage"),
        )
        .orderBy("rank")
    )


@register(
    "dedup_substring_spans",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(toks[i:i+7], chr(31))), 1, 15))::BIGINT AS h
          FROM t, unnest(range(1, len(toks) - 6)) AS r(i) WHERE len(toks) >= 8),
    seeds AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
              FROM s a JOIN s b USING (h) WHERE a.doc_id < b.doc_id),
    runs AS (SELECT *, pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                                  ORDER BY pos_a) AS grp
             FROM seeds)
    SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS pos_a,
           CAST(MIN(pos_b) AS BIGINT) AS pos_b,
           CAST(COUNT(*) + 7 AS BIGINT) AS span_len
    FROM runs GROUP BY id_a, id_b, pos_a - pos_b, grp
    HAVING COUNT(*) + 7 >= 12
    ORDER BY id_a, id_b, pos_a, pos_b
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans across documents
    (dedup.substring_dup_spans; Lee et al. 2022, arXiv:2107.06499): every
    maximal verbatim run of ≥ 12 shared tokens between two documents,
    found by positional 8-shingle hashing + an inverted-index join + a
    gaps-and-islands diagonal merge — the span-level dedup flavor the
    set-based pairs (jaccard / minhash / simhash) cannot express.  The
    md5-derived shingle hash makes every seed match SQL-replicable, so
    the oracle reproduces the full span set bit-for-bit.  Hot-shingle
    capping (the 100 TB knob) is unit-tested; the fixture's 8-grams are
    near-unique so the uncapped run is exact here."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    spans = D.substring_dup_spans(docs, "doc_id", F.col("toks"), k=8, min_len=12)
    return spans.select(
        "id_a",
        "id_b",
        F.col("pos_a").cast("long").alias("pos_a"),
        F.col("pos_b").cast("long").alias("pos_b"),
        "span_len",
    ).orderBy("id_a", "id_b", "pos_a", "pos_b")


@register(
    "dedup_substring_removal",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(toks[i:i+7], chr(31))), 1, 15))::BIGINT AS h
          FROM t, unnest(range(1, len(toks) - 6)) AS r(i) WHERE len(toks) >= 8),
    seeds AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
              FROM s a JOIN s b USING (h) WHERE a.doc_id < b.doc_id),
    runs AS (SELECT *, pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                                  ORDER BY pos_a) AS grp
             FROM seeds),
    spans AS (SELECT id_b, MIN(pos_b) AS pos_b, COUNT(*) + 7 AS span_len
              FROM runs GROUP BY id_a, id_b, pos_a - pos_b, grp
              HAVING COUNT(*) + 7 >= 12),
    cov AS (SELECT DISTINCT id_b AS doc_id, unnest(range(pos_b, pos_b + span_len)) AS pos
            FROM spans),
    posi AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
                    unnest(toks) AS tok
             FROM t),
    surv AS (SELECT p.doc_id, p.pos, p.tok FROM posi p
             LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
             WHERE c.pos IS NULL),
    reb AS (SELECT doc_id, COUNT(*) AS n_after,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM surv GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_before,
           CAST(COALESCE(reb.n_after, 0) AS BIGINT) AS n_after,
           COALESCE(reb.clean_text, '') AS clean_text
    FROM t LEFT JOIN reb USING (doc_id) ORDER BY t.doc_id
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup APPLIED (dedup.remove_dup_spans over
    substring_dup_spans): every ≥ 12-token passage a document shares with
    a lower-id document is cut from its token stream and the cleaned text
    rebuilt — the action step of Lee et al. 2022, whose span finder
    dedup_substring_spans checks in isolation.  Whole-pipeline oracle:
    DuckDB recomputes shingles → spans → covered positions → surviving
    token stream and the driver hash-compares the rebuilt text verbatim."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    spans = D.substring_dup_spans(docs, "doc_id", F.col("toks"), k=8, min_len=12)
    out = D.remove_dup_spans(docs, spans, "doc_id", F.col("toks"))
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")


# DSIR importance resampling (Xie et al. 2023): the trained-distribution
# data-selection stage.  The deterministic 5% md5 slice of the corpus
# plays the in-domain target sample (the same device text_contamination
# uses for its eval set); every raw document is scored by the hashed-
# n-gram log-likelihood ratio and the top-100 (by ROUNDED weight, doc_id
# tiebreak — cross-engine-stable ordering) are the selected set.
_DSIR_B = 64


@register(
    "text_dsir_weights",
    sql=f"""
    WITH t AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    f AS (SELECT doc_id,
                 list_concat(toks, list_transform(range(1, len(toks)),
                                                  i -> toks[i] || ' ' || toks[i+1])) AS feats,
                 substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hb
          FROM t),
    x AS (SELECT doc_id, hb < '0ccccccc' AS tgt, unnest(feats) AS g FROM f),
    b AS (SELECT doc_id, tgt,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_B} AS b
          FROM x),
    counts AS (SELECT b,
                      SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                      SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
               FROM b GROUP BY b),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
    r AS (SELECT b, ln((ct + 1)::DOUBLE / (tt + {_DSIR_B}))
                    - ln((cr + 1)::DOUBLE / (tr + {_DSIR_B})) AS lr
          FROM counts CROSS JOIN tot),
    d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
                 ROUND(CAST(CAST(SUM(CAST(ROUND(lr, 9) AS DECIMAL(28,9)))
                                 AS VARCHAR) AS DOUBLE), 6) AS log_weight
          FROM b JOIN r USING (b) WHERE NOT tgt GROUP BY doc_id),
    sel AS (SELECT doc_id FROM d ORDER BY log_weight DESC, doc_id LIMIT 100)
    SELECT d.doc_id, n_feat, log_weight,
           (d.doc_id IN (SELECT doc_id FROM sel)) AS selected
    FROM d ORDER BY d.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance reweighting (text.dsir_log_weights; Xie et al. 2023
    arXiv:2302.03169): hashed unigram+bigram bag log-likelihood ratio of
    target vs raw, add-one smoothed over 64 md5-hashed buckets — every
    bucket index is SQL-replicable (md5_hash60, the classifier/SimHash
    convention), so the full importance weight is oracle-exact to 6dp.
    The selected set is the top-100 by (rounded weight, doc_id):
    TakeOrderedAndProject + a 100-row semi-join flag, never a global
    window."""
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket

    th = _threshold_hex(0.05)
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    # Own persist: the exploded bucket frame is consumed by the bucket-
    # count aggregation AND the per-doc score sum — without this the
    # regex+split+ngram feature pass runs twice (the text_minhash_ngrams
    # lesson).
    feats = D._persist(
        docs.select(
            "doc_id",
            T.classifier_features(F.col("toks"), max_n=2).alias("feats"),
            (hash_bucket(["doc_id"]) < th).alias("tgt"),
        )
    )
    # The scored frame feeds both the top-100 draw and the final join —
    # persist the (narrow, doc-level) result or the explode + two-shuffle
    # scoring pipeline replays.
    d = D._persist(
        T.dsir_log_weights(
            feats, ["doc_id"], "feats", "tgt",
            n_buckets=_DSIR_B, hash_expr=D.md5_hash60,
        ).withColumn("log_weight", F.round("log_weight", 6))
    )
    sel = (
        d.orderBy(F.desc("log_weight"), "doc_id")
        .limit(100)
        .select("doc_id", F.lit(True).alias("__sel"))
    )
    return (
        d.join(sel, "doc_id", "left")
        .select(
            "doc_id",
            "n_feat",
            "log_weight",
            F.coalesce("__sel", F.lit(False)).alias("selected"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_cluster_safe_split",
    sql=f"""
    WITH RECURSIVE
    s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
    e AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM s),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, COUNT(*) AS inter
          FROM e a JOIN e b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1,2,3,4),
    pairs AS (SELECT id_a, id_b FROM p
              WHERE CAST(inter AS DOUBLE)/(n_a + n_b - inter) >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src
    ),
    lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           CASE WHEN b < 'cccccccc' THEN 'train'
                WHEN b < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 substr(md5('csplit|' || CAST(cluster_id AS VARCHAR)), 1, 8) AS b
          FROM lab)
    ORDER BY doc_id
    """,
)
def sample_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split keyed on the NEAR-DUP CLUSTER —
    the stronger form of sample_split_grouped's source-keyed discipline:
    a row-keyed (or even source-keyed) split still routes near-duplicates
    of a training document into test; splitting on the connected-component
    id of the exact near-dup pair graph (the dedup_clusters labeling)
    cannot, because every member of a cluster shares the key.  Composition
    of the dedup tier (neardup_pairs_exact → connected_components) with
    sampling.assign_splits — the split is a pure function of cluster_id,
    no RNG, stable under re-partitioning; components add O(log n)
    pointer-jumping rounds on the pair graph only."""
    from my_cudf_spark.operators import clustering as C
    from my_cudf_spark.operators.sampling import assign_splits

    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    trigrams = T.word_ngrams(F.col("toks"), 3)
    pairs = D.neardup_pairs_exact(docs, "doc_id", trigrams, threshold=0.5)
    lab = C.dedup_clusters(docs, pairs, id_col="doc_id")
    out = assign_splits(lab, [F.col("cluster_id")], 
                        {"train": 0.8, "val": 0.1, "test": 0.1}, salt="csplit")
    return out.select("doc_id", "cluster_id", "split").orderBy("doc_id")


@register(
    "text_ccnet_buckets",
    sql=f"""
    WITH tk AS (SELECT doc_id, source,
                       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
                       string_split({SQL_NORM}, ' ') AS tk
                FROM documents),
    uni AS (SELECT w, COUNT(*) AS cu
            FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w),
    v AS (SELECT COUNT(*) AS v FROM uni),
    bg AS (SELECT doc_id, source, n_tokens, tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT doc_id, source, n_tokens, tk,
                        unnest(range(1, len(tk))) AS i FROM tk)),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    sc AS (SELECT doc_id, source, n_tokens,
                  ROUND(AVG(ln((cb + 0.5) / (cu + 0.5 * v))), 6) AS lp
           FROM bg JOIN bgc USING (w1, w2) JOIN uni ON bg.w1 = uni.w
                   CROSS JOIN v
           GROUP BY 1, 2, 3),
    th AS (SELECT QUANTILE_CONT(lp, 1.0/3.0) AS t1,
                  QUANTILE_CONT(lp, 2.0/3.0) AS t2 FROM sc),
    b AS (SELECT source, n_tokens, lp,
                 CASE WHEN lp > t2 THEN 'head'
                      WHEN lp > t1 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM sc CROSS JOIN th)
    SELECT source, bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS avg_logprob
    FROM b GROUP BY source, bucket ORDER BY source, bucket
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity-bucket selection (Wenzek et al. 2020): score every
    document with the corpus bigram LM (text.ngram_lm_scores — the
    text_lm_score signal), split the corpus at the EXACT score terciles
    into head/middle/tail, and account each (source, bucket) cell — the
    selection step real CCNet pipelines apply before keeping head+middle.

    Plan shape: the LM scoring subplan (two vocab-bounded count shuffles +
    per-doc aggregation), then the tercile thresholds reduce to ONE 1-row
    exact-percentile aggregate that rides a broadcast crossJoin back over
    the scored frame (no global sort, no single-task window — the same
    two-pass quantile-threshold shape as frame_quantile_normalize), then
    one groupBy(source, bucket).  Everything after scoring is O(|docs|)
    with a 1-row broadcast; at 100 TB the terciles would swap to
    approx_percentile with no shape change (documented; exact here for
    the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        "source",
        T.count_tokens("text").cast("long").alias("n_tokens"),
        T.normalize_text("text").alias("norm"),
    )
    sc = T.ngram_lm_scores(norm, ["doc_id", "source", "n_tokens"], "norm")
    th = sc.agg(
        F.expr(
            "percentile(avg_logprob, array(CAST(1.0/3.0 AS DOUBLE),"
            " CAST(2.0/3.0 AS DOUBLE)))"
        ).alias("t")
    )
    b = sc.crossJoin(F.broadcast(th)).withColumn(
        "bucket",
        F.when(F.col("avg_logprob") > F.element_at("t", 2), F.lit("head"))
        .when(F.col("avg_logprob") > F.element_at("t", 1), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        b.groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (
                F.sum(F.col("avg_logprob").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_logprob"),
        )
        .orderBy("source", "bucket")
    )


@register(
    "text_keywords_rake",
    sql=rf"""
    WITH d AS (SELECT doc_id,
                      string_split(regexp_replace({SQL_NORM}, '\b(the|a)\b', '|', 'g'), '|') AS segs
               FROM documents WHERE text IS NOT NULL),
    ph AS (SELECT doc_id, trim(seg) AS phrase
           FROM (SELECT doc_id, unnest(segs) AS seg FROM d)
           WHERE trim(seg) <> ''),
    pt AS (SELECT doc_id, phrase, string_split(phrase, ' ') AS pw,
                  CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
           FROM ph),
    wo AS (SELECT doc_id, phrase, plen, unnest(pw) AS w FROM pt),
    stats AS (SELECT doc_id, w, COUNT(*) AS freq, SUM(plen) AS deg
              FROM wo GROUP BY doc_id, w),
    scored AS (SELECT wo.doc_id, wo.phrase,
                      CAST(CAST(SUM(CAST(ROUND(CAST(stats.deg AS DOUBLE) / stats.freq, 9)
                           AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) AS score
               FROM wo JOIN stats ON wo.doc_id = stats.doc_id AND wo.w = stats.w
               GROUP BY wo.doc_id, wo.phrase),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, phrase) AS rank FROM scored)
    SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def text_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    per-document keyword tier the nvtext surface lacks: candidate
    phrases are maximal stopword-free token runs, each word scores
    deg/freq over the document's phrases (deg = Σ lengths of phrases
    containing it), a phrase scores the decimal order-independent sum
    of its words' scores, and the top 3 distinct phrases per document
    survive.  Pure string/aggregate plan: stopword split is one regex,
    word stats and phrase scores are two hash aggregations, the final
    window ranks ≤ distinct-phrases rows per doc."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    segs = F.split(
        F.regexp_replace(T.normalize_text("text"), r"\b(the|a)\b", "|"), r"\|"
    )
    ph = (
        docs.select("doc_id", segs.alias("segs"))
        .select("doc_id", F.explode("segs").alias("seg"))
        .select("doc_id", F.trim("seg").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pt = ph.select("doc_id", "phrase", F.split("phrase", " ").alias("pw")).select(
        "doc_id", "phrase", "pw", F.size("pw").cast("long").alias("plen")
    )
    wo = D._persist(
        pt.select("doc_id", "phrase", "plen", F.explode("pw").alias("w"))
    )
    stats = wo.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    ws = (F.col("deg").cast("double") / F.col("freq")).alias("__ws")
    scored = (
        wo.join(stats, ["doc_id", "w"])
        .select("doc_id", "phrase", ws)
        .groupBy("doc_id", "phrase")
        .agg(
            F.sum(F.round(F.col("__ws"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "phrase")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "phrase", "score")
        .orderBy("doc_id", "rank")
    )


# Hot-gram posting cap for text_cosine_pairs: grams whose document
# frequency exceeds this are dropped from the inverted-index join, the
# norms, and the oracle alike (the dedup.tfidf_cosine_pairs contract —
# the same convention as substring_dup_spans.max_postings).  At corpus
# scale a stop-trigram's posting list is O(corpus) and the pair join is
# quadratic in it, while its idf² weight is ≈ 0.
_COSINE_MAX_DF = 256


@register(
    "text_cosine_pairs",
    sql=f"""
    WITH s AS (SELECT doc_id, {SQL_TRIGRAMS} AS g FROM documents),
    e AS (SELECT doc_id, unnest(g) AS gram FROM s WHERE len(g) > 0),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM e),
    dfq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY gram
            HAVING COUNT(*) <= {_COSINE_MAX_DF}),
    w AS (SELECT e.doc_id, e.gram,
                 ROUND(ln(CAST(n.nd AS DOUBLE) / dfq.df)
                       * ln(CAST(n.nd AS DOUBLE) / dfq.df), 9) AS w2
          FROM e JOIN dfq USING (gram) CROSS JOIN n),
    nrm AS (SELECT doc_id,
                   sqrt(CAST(CAST(SUM(CAST(w2 AS DECIMAL(28,9))) AS VARCHAR)
                        AS DOUBLE)) AS nn
            FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(CAST(SUM(CAST(a.w2 AS DECIMAL(28,9))) AS VARCHAR)
                         AS DOUBLE) AS dot
             FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sc AS (SELECT d.id_a, d.id_b, d.dot / (x.nn * y.nn) AS cosine
           FROM dots d JOIN nrm x ON x.doc_id = d.id_a
                       JOIN nrm y ON y.doc_id = d.id_b)
    SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
    FROM sc WHERE cosine >= 0.5 ORDER BY id_a, id_b
    """,
)
def text_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine all-pairs document similarity ≥ 0.5 — the symmetric
    sibling of BM25 retrieval and the idf-weighted upgrade of the exact
    Jaccard pair join (dedup.tfidf_cosine_pairs): binary-tf trigram
    vectors weighted idf², dot products via the inverted-index join
    (pairs meet only on shared grams, never all-pairs), and the
    ``max_df`` hot-gram posting cap bounding the join's per-gram
    quadratic term — grams in more than ``_COSINE_MAX_DF`` documents are
    excluded from postings AND norms in both engines.  Norms and dots
    are decimal per-term-rounded sums (order-independent; ln follows the
    BM25 round-before-sum precedent), cosine = dot/(‖a‖‖b‖)."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    e = docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.word_ngrams(F.col("toks"), 3))).alias("gram"),
    )
    pairs = D.tfidf_cosine_pairs(
        e.select(F.col("doc_id").alias("id"), "gram"),
        threshold=0.5,
        max_df=_COSINE_MAX_DF,
    )
    return pairs.orderBy("id_a", "id_b")


def _unigram_sql(
    max_piece_len: int = 3,
    max_word_len: int = 12,
    top_v: int = 30,
    mode: str = "learn",
) -> str:
    """Chained-CTE oracle for functions/unigram.learn_unigram (2 EM
    iterations): the Viterbi dp/backtrace unrolls into one CTE per word
    position (the same per-position columns the Spark operator builds),
    scores are integer nano-nats, and the M-step/char-smoothing rules are
    replayed verbatim — every comparison is int64, so the engines agree
    bit-for-bit.  ``mode='apply'`` appends a THIRD Viterbi pass with the
    trained scores and folds per-word stats back onto the per-document
    word stream (the text_unigram_apply oracle)."""
    MISS, INV = -(10**15), -(9 * 10**17)
    nanolog = lambda x: (
        f"CAST(ROUND(ROUND(ln({x}), 9) * 1000000000.0) AS BIGINT)"
    )

    def viterbi(tag: str, src: str) -> list[str]:
        parts = [
            f"{tag}_0 AS (SELECT w, f, n, mp, [CAST(0 AS BIGINT)] AS dpl,"
            f" []::BIGINT[] AS btl FROM {src})"
        ]
        for j in range(1, max_word_len + 1):
            cands = []
            for i in range(1, max_piece_len + 1):
                if i <= j:
                    cands.append(
                        f"dpl[{j - i + 1}] + COALESCE("
                        f"mp[substr(w, {j - i + 1}, {i})][1],"
                        f" CAST({MISS} AS BIGINT))"
                    )
                else:
                    cands.append(f"CAST({INV} AS BIGINT)")
            g = f"GREATEST({', '.join(cands)})"
            bt = f"CASE WHEN {g} = ({cands[0]}) THEN 1"
            for i in range(2, max_piece_len):
                bt += f" WHEN {g} = ({cands[i - 1]}) THEN {i}"
            bt += f" ELSE {max_piece_len} END"
            parts.append(
                f"{tag}_{j} AS (SELECT w, f, n, mp, list_append(dpl, {g}) AS dpl,"
                f" list_append(btl, CAST({bt} AS BIGINT)) AS btl FROM {tag}_{j - 1})"
            )
        parts.append(
            f"{tag}_w0 AS (SELECT w, f, btl, dpl[n + 1] AS vscore,"
            f" {{'pos': n, 'pieces': []::VARCHAR[]}} AS st FROM {tag}_{max_word_len})"
        )
        step = (
            "CASE WHEN st.pos > 0 THEN {"
            "'pos': st.pos - btl[st.pos], "
            "'pieces': list_append(st.pieces,"
            " substr(w, st.pos - btl[st.pos] + 1, CAST(btl[st.pos] AS INTEGER)))"
            "} ELSE st END"
        )
        for k in range(1, max_word_len + 1):
            parts.append(
                f"{tag}_w{k} AS (SELECT w, f, btl, vscore, {step} AS st"
                f" FROM {tag}_w{k - 1})"
            )
        parts.append(
            f"{tag}_pieces AS (SELECT f, unnest(st.pieces) AS piece"
            f" FROM {tag}_w{max_word_len})"
        )
        parts.append(
            f"{tag}_cnt AS (SELECT piece, CAST(SUM(f) AS BIGINT) AS c"
            f" FROM {tag}_pieces GROUP BY piece)"
        )
        parts.append(
            f"{tag}_stats AS (SELECT w, CAST(len(st.pieces) AS BIGINT) AS np,"
            f" vscore AS sc FROM {tag}_w{max_word_len})"
        )
        return parts

    def mstep(tag: str, src: str) -> str:
        return (
            f"{tag} AS (SELECT piece, c FROM {src} WHERE len(piece) > 1 AND c > 0"
            f" UNION ALL"
            f" SELECT ch.piece, COALESCE(s.c, CAST(0 AS BIGINT)) + 1 AS c"
            f" FROM chars ch LEFT JOIN {src} s ON ch.piece = s.piece)"
        )

    def score_map(tag: str, src: str) -> list[str]:
        return [
            f"{tag}_sc AS (SELECT piece, {nanolog('CAST(c AS DOUBLE) / t.t')} AS s"
            f" FROM {src}, (SELECT CAST(SUM(c) AS BIGINT) AS t FROM {src}) t)",
            f"{tag}_m AS (SELECT map(list(piece ORDER BY piece),"
            f" list(s ORDER BY piece)) AS mp FROM {tag}_sc)",
        ]

    parts = [
        f"WITH wr AS (SELECT string_split({SQL_NORM}, ' ') AS ws"
        f" FROM documents WHERE text IS NOT NULL)",
        "w0 AS (SELECT unnest(ws) AS w FROM wr)",
        f"wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f, len(w) AS n FROM w0"
        f" WHERE len(w) BETWEEN 1 AND {max_word_len} GROUP BY w)",
        f"seed AS (SELECT substr(w, CAST(s.s AS INTEGER), CAST(l.l AS INTEGER)) AS piece,"
        f" CAST(SUM(f) AS BIGINT) AS c"
        f" FROM wf CROSS JOIN range(1, {max_word_len + 1}) s(s)"
        f" CROSS JOIN range(1, {max_piece_len + 1}) l(l)"
        f" WHERE s.s + l.l - 1 <= len(w) GROUP BY 1)",
        "chars AS (SELECT piece FROM seed WHERE len(piece) = 1)",
    ]
    parts += score_map("it0", "seed")
    parts += viterbi("v1", "(SELECT wf.*, m.mp FROM wf, it0_m m)")
    parts.append(mstep("c1p", "v1_cnt"))
    parts += score_map("it1", "c1p")
    parts += viterbi("v2", "(SELECT wf.*, m.mp FROM wf, it1_m m)")
    parts.append(mstep("c2p", "v2_cnt"))
    if mode == "learn":
        final = (
            f"SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS INT) AS rank,"
            f" piece, c AS cnt, {nanolog('CAST(c AS DOUBLE) / t.t')} AS score"
            f" FROM c2p, (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c2p) t"
            f" QUALIFY rank <= {top_v} ORDER BY rank"
        )
        return ",\n".join(parts) + "\n" + final
    # mode == 'apply': third Viterbi pass with the trained scores, folded
    # back onto the per-document word stream
    parts += score_map("it2", "c2p")
    parts += viterbi("v3", "(SELECT wf.*, m.mp FROM wf, it2_m m)")
    parts += [
        "dw AS (SELECT doc_id, unnest(string_split("
        f"{SQL_NORM}, ' ')) AS w FROM documents WHERE text IS NOT NULL)",
        f"dv AS (SELECT doc_id, w FROM dw"
        f" WHERE len(w) BETWEEN 1 AND {max_word_len})",
        "perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(np) AS BIGINT) AS n_pieces, CAST(SUM(sc) AS BIGINT) AS score"
        " FROM dv JOIN v3_stats USING (w) GROUP BY doc_id)",
        f"sk AS (SELECT doc_id, CAST(SUM(CASE WHEN len(w) BETWEEN 1 AND"
        f" {max_word_len} THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped"
        f" FROM dw GROUP BY doc_id)",
    ]
    final = (
        "SELECT sk.doc_id, COALESCE(n_words, 0) AS n_words, n_skipped,"
        " COALESCE(n_pieces, 0) AS n_pieces, COALESCE(score, 0) AS score"
        " FROM sk LEFT JOIN perdoc USING (doc_id) ORDER BY sk.doc_id"
    )
    return ",\n".join(parts) + "\n" + final


@register("text_unigram_learn", sql=_unigram_sql())
def text_unigram_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed unigram-LM tokenizer TRAINING (functions/unigram
    .learn_unigram — SentencePiece-style hard EM): seed-substring counts
    → integer nano-nat piece scores → per-distinct-word Viterbi E-step →
    char-smoothed M-step, twice, then the top-30 vocabulary.  One corpus
    scan (word frequencies); every EM round is vocabulary-sized work
    with the score map on a 1-row broadcast — the text_classifier_learn
    one-job-per-iteration pattern applied to tokenizer training.  The
    oracle unrolls both Viterbi rounds position-by-position with the
    identical int64 dp recurrence."""
    from my_cudf_spark.functions.unigram import learn_unigram

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = docs.select(T.normalize_text("text").alias("norm"))
    return learn_unigram(norm, "norm").orderBy("rank")


@register("text_unigram_apply", sql=_unigram_sql(mode="apply"))
def text_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer TRAIN → APPLY as one lazy DAG (functions/unigram
    .train_unigram_counts + unigram_segment_stats — the tokenizer
    sibling of text_classifier_train_apply): the vocabulary trained on
    the corpus segments the corpus, emitting per-document tokenization
    stats — word/piece counts and the summed Viterbi log-probability in
    exact integer nano-nats (a document-level LM quality signal).  The
    vocabulary side is segmented ONCE (per distinct word, score map on a
    1-row broadcast) and per-word stats hash-join back to the document
    word stream; the oracle replays training plus a third unrolled
    Viterbi pass."""
    from my_cudf_spark.functions.unigram import (
        train_unigram_counts,
        unigram_segment_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = docs.select("doc_id", T.normalize_text("text").alias("norm"))
    counts = train_unigram_counts(norm, "norm")
    stats = unigram_segment_stats(norm, "doc_id", "norm", counts)
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_skipped",
        "n_pieces",
        "score",
    ).orderBy("doc_id")


@register(
    "dedup_substring_intra",
    sql=f"""
    WITH t0 AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    t AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
                              THEN list_concat(toks, toks[1:16])
                              ELSE toks END AS toks FROM t0),
    s AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(toks[i:i+7], chr(31))), 1, 15))::BIGINT AS h
          FROM t, unnest(range(1, len(toks) - 6)) AS r(i) WHERE len(toks) >= 8),
    seeds AS (SELECT a.doc_id AS id, a.pos AS pos_a, b.pos AS pos_b
              FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.h = b.h
              WHERE a.pos < b.pos),
    runs AS (SELECT *, pos_a - ROW_NUMBER() OVER (PARTITION BY id, pos_b - pos_a
                                                  ORDER BY pos_a) AS grp
             FROM seeds)
    SELECT id AS doc_id, CAST(MIN(pos_a) AS BIGINT) AS pos_a,
           CAST(MIN(pos_b) AS BIGINT) AS pos_b,
           CAST(COUNT(*) + 7 AS BIGINT) AS span_len
    FROM runs GROUP BY id, pos_b - pos_a, grp
    HAVING COUNT(*) + 7 >= 12
    ORDER BY doc_id, pos_a, pos_b
    """,
)
def dedup_substring_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document duplicated spans (dedup.substring_self_spans — the
    within-document flavor of dedup_substring_spans; Lee et al. 2022
    dedups inside documents too): every maximal ≥12-token passage
    recurring at two positions of the same document.  The fixtures carry
    no organic self-repeats, so every 5th document gets its first 16
    tokens appended (deterministic graft, the text_pii_redact
    convention) — the detector does real work and the oracle checks the
    exact span set.  Same positional-shingle + repeat-distance
    gaps-and-islands machinery (and the same max_postings hot-shingle
    cap) as the cross-document op."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    toks2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("toks"), F.slice(F.col("toks"), 1, 16)),
    ).otherwise(F.col("toks"))
    grafted = docs.select("doc_id", toks2.alias("toks"))
    spans = D.substring_self_spans(grafted, "doc_id", F.col("toks"), k=8, min_len=12)
    return spans.select(
        F.col("id").alias("doc_id"),
        F.col("pos_a").cast("long").alias("pos_a"),
        F.col("pos_b").cast("long").alias("pos_b"),
        "span_len",
    ).orderBy("doc_id", "pos_a", "pos_b")


@register(
    "dedup_substring_intra_removal",
    sql=f"""
    WITH t0 AS (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents),
    t AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
                              THEN list_concat(toks, toks[1:16])
                              ELSE toks END AS toks FROM t0),
    s AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(toks[i:i+7], chr(31))), 1, 15))::BIGINT AS h
          FROM t, unnest(range(1, len(toks) - 6)) AS r(i) WHERE len(toks) >= 8),
    seeds AS (SELECT a.doc_id AS id, a.pos AS pos_a, b.pos AS pos_b
              FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.h = b.h
              WHERE a.pos < b.pos),
    runs AS (SELECT *, pos_a - ROW_NUMBER() OVER (PARTITION BY id, pos_b - pos_a
                                                  ORDER BY pos_a) AS grp
             FROM seeds),
    spans AS (SELECT id AS doc_id, MIN(pos_b) AS pos_b, COUNT(*) + 7 AS span_len
              FROM runs GROUP BY id, pos_b - pos_a, grp
              HAVING COUNT(*) + 7 >= 12),
    cov AS (SELECT DISTINCT doc_id, unnest(range(pos_b, pos_b + span_len)) AS pos
            FROM spans),
    posi AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
                    unnest(toks) AS tok
             FROM t),
    surv AS (SELECT p.doc_id, p.pos, p.tok FROM posi p
             LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos
             WHERE c.pos IS NULL),
    reb AS (SELECT doc_id, COUNT(*) AS n_after,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM surv GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_before,
           CAST(COALESCE(reb.n_after, 0) AS BIGINT) AS n_after,
           COALESCE(reb.clean_text, '') AS clean_text
    FROM t LEFT JOIN reb USING (doc_id) ORDER BY t.doc_id
    """,
)
def dedup_substring_intra_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document substring dedup APPLIED (dedup.remove_dup_spans
    over substring_self_spans): every ≥12-token passage recurring inside
    a document is cut at its LATER position (first occurrence kept —
    the within-document reading of the lower-id-wins convention) and the
    cleaned token stream rebuilt; repeat-free documents pass through
    unchanged.  Same grafted self-repeats as dedup_substring_intra so
    the apply step does real work; whole-pipeline oracle rebuilds the
    surviving text verbatim."""
    docs = _with_tokens(load_table(spark, sf_dir, "documents"))
    toks2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("toks"), F.slice(F.col("toks"), 1, 16)),
    ).otherwise(F.col("toks"))
    grafted = docs.select("doc_id", toks2.alias("toks"))
    spans = D.substring_self_spans(
        grafted, "doc_id", F.col("toks"), k=8, min_len=12
    ).select(F.col("id").alias("id_b"), "pos_b", "span_len")
    out = D.remove_dup_spans(grafted, spans, "doc_id", F.col("toks"))
    return out.withColumnRenamed("id", "doc_id").orderBy("doc_id")
