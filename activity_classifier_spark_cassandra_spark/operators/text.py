"""Text analysis for large-scale training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting — over the
driver's ``documents`` table (doc_id, text, lang, source, n_chars).

Everything is built-in Column expressions (JVM-side, codegen'd): the
hot path never leaves whole-stage codegen, so the same plan scans
100 TB of parquet text with nothing but a projection over the scan —
no shuffle at all for per-document scores; one exchange only where a
groupBy genuinely needs it (fingerprint duplicate counts).

Each query has a DuckDB oracle string whose expressions are kept
operation-for-operation identical (same regexes, same token filters,
same rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .iterate import RoundLoop

# tiny fixed stopword lists (public knowledge); used for both the
# stopword-ratio quality signal and the n-gram language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "et", "les", "des", "une", "est", "dans"],
}

_TOKENIZE = r"""list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""
# Spark SQL equivalent (0-based arrays, same regex dialect for \s):
_TOKENIZE_SPARK = r"""filter(split(text, '\\s+'), x -> x != '')"""


def _sql_in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _tokens_col() -> F.Column:
    return F.expr(_TOKENIZE_SPARK)


# ------------------------------------------------------------ stats
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: token count, average token
    length, punctuation ratio, English-stopword ratio, and a composite
    quality score.  Pure projection — scales linearly, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    en = _sql_in_list(STOPWORDS["en"])
    n_tokens = F.size(toks)
    # NULLIF guards: empty / whitespace-only documents would otherwise
    # divide by zero, where Spark and DuckDB disagree (NULL vs NaN/Inf);
    # both engines deterministically return NULL under NULLIF.
    safe_tokens = F.nullif(n_tokens, F.lit(0))
    safe_len = F.nullif(F.length("text"), F.lit(0))
    avg_token_len = F.expr(
        f"aggregate({_TOKENIZE_SPARK}, 0L, (acc, x) -> acc + length(x))"
    ) / safe_tokens
    punct = F.length(F.regexp_replace("text", r"[^.,!?;:]", ""))
    stop_hits = F.expr(
        f"size(filter({_TOKENIZE_SPARK}, x -> x IN ({en})))"
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(avg_token_len, 6).alias("avg_token_len"),
        F.round(punct / safe_len, 6).alias("punct_ratio"),
        F.round(stop_hits / safe_tokens, 6).alias("stopword_ratio"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
  LENGTH(text) AS text_len,
  LEN({_TOKENIZE}) AS n_tokens,
  ROUND(LIST_SUM(LIST_TRANSFORM({_TOKENIZE}, x -> LENGTH(x)))
        / NULLIF(LEN({_TOKENIZE}), 0), 6) AS avg_token_len,
  ROUND(LENGTH(REGEXP_REPLACE(text, '[^.,!?;:]', '', 'g'))
        / NULLIF(LENGTH(text), 0), 6) AS punct_ratio,
  ROUND(LEN(LIST_FILTER({_TOKENIZE},
            x -> x IN ({_sql_in_list(STOPWORDS["en"])})))
        / NULLIF(LEN({_TOKENIZE}), 0), 6) AS stopword_ratio
FROM documents
"""


# ------------------------------------------------------------ lang id
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count stopword hits per language, pick
    the argmax with a fixed precedence (en > de > es > fr) on ties.
    Again a pure projection over the scan."""
    docs = load_table(spark, sf_dir, "documents")
    scores = {
        lang: F.expr(
            f"size(filter({_TOKENIZE_SPARK},"
            f" x -> x IN ({_sql_in_list(words)})))"
        )
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["es"] == best, "es")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        "lang",
        scores["en"].cast("long").alias("score_en"),
        scores["de"].cast("long").alias("score_de"),
        scores["es"].cast("long").alias("score_es"),
        scores["fr"].cast("long").alias("score_fr"),
        pred.alias("lang_pred"),
    )


def _lang_score_sql(lang: str) -> str:
    return (
        f"LEN(LIST_FILTER({_TOKENIZE},"
        f" x -> x IN ({_sql_in_list(STOPWORDS[lang])})))"
    )


LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
    {_lang_score_sql("en")} AS score_en,
    {_lang_score_sql("de")} AS score_de,
    {_lang_score_sql("es")} AS score_es,
    {_lang_score_sql("fr")} AS score_fr
  FROM documents
)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
  CASE WHEN score_en = GREATEST(score_en, score_de, score_es, score_fr)
         THEN 'en'
       WHEN score_de = GREATEST(score_en, score_de, score_es, score_fr)
         THEN 'de'
       WHEN score_es = GREATEST(score_en, score_de, score_es, score_fr)
         THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM scored
"""


# ------------------------------------------------------------ BPE-ish tokens
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish
    word/punctuation regex — the standard pre-training corpus size
    estimate."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(_tokens_col())
    bpe = F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
  LEN({_TOKENIZE}) AS n_ws_tokens,
  LEN(REGEXP_EXTRACT_ALL(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens
FROM documents
"""


# ------------------------------------------------------------ fingerprint
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (lowercase,
    collapsed whitespace) — the canonical exact-dup key.  Grouping on
    the 32-byte digest instead of the full text keeps the exchange
    narrow at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DOC_FINGERPRINT_SQL = """
SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS first_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# ------------------------------------------------------------ tf-idf
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (SURVEY.md §2.12 text analysis).

    Flat shape: explode tokens -> tf = count per (doc, term) -> df =
    count of docs per term (one narrow agg over the tf frame) ->
    smoothed idf = ln((n+1)/(df+1)) -> per-doc top-k via row_number.
    Two linear aggregations + one broadcast of the corpus size; the
    per-doc ranking exchanges on doc_id only."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENIZE_SPARK)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKENIZE}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3
"""


# ------------------------------------------------------- redaction
# PII-scrub plumbing: a list of (pattern, replacement) rules applied in
# one projection pass.  Real pipelines load rules for emails, phone
# numbers, ID numbers; the synthetic corpus has none of those, so the
# registered query demonstrates the machinery on vocabulary tokens —
# the plan shape (chained regexp_replace, zero shuffle before the
# summary agg) is identical whatever the rule list holds.
REDACT_RULES: list[tuple[str, str]] = [
    (r"\bcustomer\b", "[ENTITY]"),
    (r"\bspark\b", "[PRODUCT]"),
]


def redact(text_col: F.Column, rules: list[tuple[str, str]]) -> F.Column:
    """Apply every redaction rule in sequence — one narrow projection,
    JVM-regex per batch, linear at any corpus size."""
    out = text_col
    for pat, repl in rules:
        out = F.regexp_replace(out, pat, repl)
    return out


def q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction summary per language: docs touched and total chars
    removed (value-sensitive — a wrong rule or a non-global replace
    shifts both numbers)."""
    docs = load_table(spark, sf_dir, "documents")
    red = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("len_before"),
        F.length(redact(F.col("text"), REDACT_RULES)).alias("len_after"),
    )
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("len_after") != F.col("len_before"), 1).otherwise(0)
        ).alias("n_docs_redacted"),
        F.sum(F.col("len_before") - F.col("len_after")).alias("chars_delta"),
    )


REDACT_SQL = r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN LENGTH(red) <> LENGTH(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_redacted,
       CAST(SUM(LENGTH(text) - LENGTH(red)) AS BIGINT) AS chars_delta
FROM (
  SELECT lang, text,
         regexp_replace(regexp_replace(text, '\bcustomer\b', '[ENTITY]', 'g'),
                        '\bspark\b', '[PRODUCT]', 'g') AS red
  FROM documents
)
GROUP BY lang
"""


# ---------------------------------------------------- repetition
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the standard LLM-corpus
    quality gate for degenerate/boilerplate text: top-token fraction
    and type-token ratio.

    explode → two keyed aggs (both partial) rather than a higher-order
    aggregate over the token array: HOF lambdas run interpreted per
    element, while explode+groupBy stays whole-stage-codegen and
    partial-aggregates map-side, so a hot document never concentrates
    on one reducer beyond its own token count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("type_token_ratio"),
    )


REPETITION_RATIO_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKENIZE}) AS tok FROM documents
),
cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_token_frac,
       ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS type_token_ratio
FROM cnt GROUP BY doc_id
"""


# ------------------------------------------------- unigram log-prob
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality gate: score each document by its average
    unigram negative log-probability under the corpus's own token
    distribution (the cheap stand-in for KenLM perplexity filtering).

    Two linear stages: (1) one agg builds the unigram table, (2) each
    doc's tokens join it and average.  The token table at 100 TB is
    Zipf-bounded (vocabulary ≪ corpus), so the probability table is
    broadcast-size after the first agg; here Spark's AQE makes that
    call.  High scores = improbable token mix = candidates for the
    quality cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n_total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("tf") / F.col("n_total"))), 6
            ).alias("avg_neg_logprob"),
        )
    )
    return scored


UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKENIZE}) AS tok FROM documents
),
vocab AS (
  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
),
total AS (SELECT SUM(tf) AS n_total FROM vocab)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(-LN(tf * 1.0 / n_total)), 6) AS avg_neg_logprob
FROM toks JOIN vocab USING (tok) CROSS JOIN total
GROUP BY doc_id
"""


# ------------------------------------------------- bigram log-prob
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: each document's average negative log of
    the corpus-estimated conditional P(w2 | w1) over its adjacent token
    pairs — one notch of context above q_unigram_logprob, and the same
    shape KenLM-style perplexity filters use at corpus scale.

    Plan: bigrams come from a pure projection (slice + transform over
    the token array — no self-join on positions, which would shuffle
    the whole corpus once per order of the model); then one groupBy
    builds the bigram table, one the w1 marginal, and each doc's
    bigrams equi-join both.  All three joins are keyed on Zipf-bounded
    vocab keys, so at 100 TB the count tables are tiny relative to the
    corpus and AQE broadcasts them; the corpus itself is scanned twice
    and never re-keyed by anything wider than a token pair."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", _tokens_col().alias("toks")
    ).filter(F.size("toks") >= 2)
    # adjacent pairs: transform is 0-based; slice keeps the first n-1
    bigrams = with_toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bg_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    w1_counts = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    return (
        bigrams.join(bg_counts, ["w1", "w2"])
        .join(w1_counts, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(-F.log(F.col("c12") / F.col("c1"))), 6
            ).alias("avg_neg_logprob"),
        )
    )


BIGRAM_LOGPROB_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENIZE} AS toks FROM documents
), tt AS (
  SELECT * FROM t WHERE len(toks) >= 2
), bigrams AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tt, UNNEST(range(1, len(toks))) AS u(i)
), bg_counts AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
), w1_counts AS (
  SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY w1
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(-LN(c12 * 1.0 / c1)), 6) AS avg_neg_logprob
FROM bigrams JOIN bg_counts USING (w1, w2) JOIN w1_counts USING (w1)
GROUP BY doc_id
"""


# --------------------------------- Kneser-Ney bigram perplexity
#
# The production LM-quality filter (CCNet / KenLM style) is not the
# MLE conditional above — it is an interpolated Kneser-Ney model:
#
#   P_KN(w2|w1) = max(c(w1,w2) - D, 0) / c(w1 .)
#               + lambda(w1) * P_cont(w2)
#   lambda(w1)  = D * N1+(w1 .) / c(w1 .)
#   P_cont(w2)  = N1+(. w2) / N1+(. .)
#
# with absolute discount D = 0.75 (Chen & Goodman 1999).  Every model
# quantity is a COUNT over the bigram TYPE table:
#   c(w1 .)    total bigram tokens with left word w1
#   N1+(w1 .)  distinct continuations of w1
#   N1+(. w2)  distinct left contexts of w2 (the continuation count)
#   N1+(. .)   total bigram types (scalar)
# so the whole training is two groupBys over bg_counts plus one
# scalar aggregate — all Zipf-bounded vocab tables that AQE
# broadcasts at 100 TB; the corpus is scanned twice (type-table
# build + per-doc scoring join) and never re-keyed wider than a
# token pair, exactly like q_bigram_logprob above.  Scoring is
# in-corpus (train == score set), so every bigram has c12 >= 1 and
# the max(., 0) clamp never binds — kept for form.

KN_DISCOUNT = 0.75


def q_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram score: average
    negative log P_KN over the doc's adjacent pairs, plus perplexity
    exp(avg).  Lower = more LM-typical text — the CCNet quality
    bucket signal."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", _tokens_col().alias("toks")
    ).filter(F.size("toks") >= 2)
    bigrams = with_toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # the type table is consumed by FOUR branches (scoring join + the
    # three model-stat aggregates); persist it so each branch reads
    # the Zipf-bounded counts instead of re-tokenizing the corpus —
    # without this the plan holds five full parquet scans
    from pyspark import StorageLevel

    bg_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # left stats ride ONE pass over the type table: token total +
    # distinct-continuation count per w1
    left = bg_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1f"),
    )
    # continuation count per w2, and the scalar type total
    right = bg_counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    types = bg_counts.agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(KN_DISCOUNT)
    p_kn = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("n1f") / F.col("c1"))
        * (F.col("n1p") / F.col("n_types"))
    )
    return (
        bigrams.join(bg_counts, ["w1", "w2"])
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log(p_kn)), 6).alias("avg_neg_logprob_kn"),
            F.round(F.exp(F.avg(-F.log(p_kn))), 6).alias("ppl_kn"),
        )
    )


KN_LOGPROB_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENIZE} AS toks FROM documents
), tt AS (
  SELECT * FROM t WHERE len(toks) >= 2
), bigrams AS MATERIALIZED (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM tt, UNNEST(range(1, len(toks))) AS u(i)
), bg_counts AS MATERIALIZED (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
), lft AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM bg_counts GROUP BY w1
), rgt AS (
  SELECT w2, COUNT(*) AS n1p FROM bg_counts GROUP BY w2
), ts AS (
  SELECT COUNT(*) AS n_types FROM bg_counts
), scored AS (
  SELECT doc_id,
         GREATEST(c12 - {KN_DISCOUNT}, 0.0) / c1
           + ({KN_DISCOUNT} * n1f / c1) * (n1p * 1.0 / n_types) AS p
  FROM bigrams
  JOIN bg_counts USING (w1, w2)
  JOIN lft USING (w1)
  JOIN rgt USING (w2)
  CROSS JOIN ts
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(-LN(p)), 6) AS avg_neg_logprob_kn,
       ROUND(EXP(AVG(-LN(p))), 6) AS ppl_kn
FROM scored GROUP BY doc_id
"""


# ------------------------------------------------ Gopher quality rules
#
# The published heuristic filter set from Gopher (Rae et al. 2021,
# Appendix A), reused by MassiveText/RefinedWeb/Dolma pipelines.
# Document-level rules (the corpus has no line structure, so the
# line-based bullet/ellipsis-line rules don't apply and are omitted —
# documented divergence, not an approximation of them):
#
#   R1  50 <= word count <= 100,000
#   R2  3 <= mean word length <= 10
#   R3  symbol-to-word ratio <= 0.1   (symbols: '#' and '...')
#   R4  >= 80% of words contain at least one alphabetic character
#   R5  at least 2 DISTINCT words from the Gopher stop list
#       {the, be, to, of, and, that, have, with}
#
# Scale shape: a pure projection over the scan — every rule is a
# whole-stage-codegen expression on the token array; ZERO shuffle at
# any corpus size.  This is deliberately the cheapest filter in the
# funnel: at 100 TB it runs at scan speed ahead of every model-based
# score (KN perplexity, DSIR).

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule flags + the composite keep decision:
    (doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
    n_stop_hits, r1..r5, keep)."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(_tokens_col())
    safe_n = F.nullif(n_words, F.lit(0))
    mwl = (
        F.expr(
            f"aggregate({_TOKENIZE_SPARK}, 0L, (acc, x) -> acc + length(x))"
        )
        / safe_n
    )
    hashes = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    dots = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (hashes + dots) / safe_n
    alpha_ratio = (
        F.expr(
            f"size(filter({_TOKENIZE_SPARK}, x -> x rlike '[a-zA-Z]'))"
        )
        / safe_n
    )
    stops = _sql_in_list(GOPHER_STOPWORDS)
    stop_hits = F.expr(
        f"size(array_distinct(filter({_TOKENIZE_SPARK},"
        f" x -> x IN ({stops}))))"
    )
    r1 = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r2 = (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
    r3 = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    r4 = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    r5 = stop_hits >= GOPHER_MIN_STOP_HITS
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("n_stop_hits"),
        r1.alias("r1_word_count"),
        r2.alias("r2_mean_word_len"),
        r3.alias("r3_symbol_ratio"),
        r4.alias("r4_alpha_words"),
        r5.alias("r5_stopwords"),
        (r1 & r2 & r3 & r4 & r5).alias("keep"),
    )


GOPHER_RULES_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKENIZE} AS toks FROM documents
), m AS (
  SELECT doc_id,
         LEN(toks) AS n_words,
         LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x)))
           / NULLIF(LEN(toks), 0) AS mwl,
         (LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
          + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3)
           / NULLIF(LEN(toks), 0) AS symbol_ratio,
         LEN(LIST_FILTER(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           / NULLIF(LEN(toks), 0) AS alpha_ratio,
         LEN(LIST_DISTINCT(LIST_FILTER(toks,
             x -> x IN ({_sql_in_list(GOPHER_STOPWORDS)})))) AS stop_hits
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(mwl, 6) AS mean_word_len,
       ROUND(symbol_ratio, 6) AS symbol_ratio,
       ROUND(alpha_ratio, 6) AS alpha_word_ratio,
       CAST(stop_hits AS BIGINT) AS n_stop_hits,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         AS r1_word_count,
       mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
         AS r2_mean_word_len,
       symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS r3_symbol_ratio,
       alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS r4_alpha_words,
       stop_hits >= {GOPHER_MIN_STOP_HITS} AS r5_stopwords,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
         AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
         AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
         AND stop_hits >= {GOPHER_MIN_STOP_HITS} AS keep
FROM m
"""


# --------------------------------------- CCNet perplexity buckets
#
# CCNet (Wenzek et al. 2020) splits each language's corpus into
# head / middle / tail thirds by LM perplexity and trains
# preferentially on the head.  Composition: the interpolated-KN
# per-doc perplexity above + per-language EXACT tercile thresholds
# (interpolated percentile — the same Spark percentile / DuckDB
# quantile_cont pair q_percentiles proves bit-parity for), then a
# broadcast threshold join.  Thresholds are 6-dp rounded in both
# engines so the bucket comparison can't flip on a final-ulp
# interpolation difference.
#
# Scale shape: the scored frame is (doc_id, lang, ppl) — narrow,
# persisted once; the threshold table is |languages| rows (single
# metadata aggregate, broadcast back).  Exact percentiles imply one
# sort-based agg per language partition at 100 TB; if that ever
# dominates, approx_percentile is the documented relaxation — kept
# exact here for the oracle.

CCNET_P1 = repr(1.0 / 3.0)
CCNET_P2 = repr(2.0 / 3.0)


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, ppl_kn, bucket): CCNet head/middle/tail split
    per language by interpolated-KN perplexity terciles."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = (
        q_kn_logprob(spark, sf_dir)
        .select("doc_id", "ppl_kn")
        .join(docs, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    th = scored.groupBy("lang").agg(
        F.round(F.expr(f"percentile(ppl_kn, {CCNET_P1})"), 6).alias("t1"),
        F.round(F.expr(f"percentile(ppl_kn, {CCNET_P2})"), 6).alias("t2"),
    )
    return scored.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "ppl_kn",
        F.when(F.col("ppl_kn") <= F.col("t1"), "head")
        .when(F.col("ppl_kn") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


PPL_BUCKETS_SQL = f"""
WITH kn AS MATERIALIZED ({KN_LOGPROB_SQL}),
scored AS MATERIALIZED (
  SELECT k.doc_id, d.lang, k.ppl_kn
  FROM kn k JOIN documents d USING (doc_id)
),
th AS (
  SELECT lang,
         ROUND(quantile_cont(ppl_kn, {CCNET_P1}), 6) AS t1,
         ROUND(quantile_cont(ppl_kn, {CCNET_P2}), 6) AS t2
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.ppl_kn,
       CASE WHEN s.ppl_kn <= t.t1 THEN 'head'
            WHEN s.ppl_kn <= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN th t USING (lang)
"""


# ------------------------------------------------------ BM25 search
BM25_K1 = 1.2
BM25_B = 0.75
# top-N cut shared by bm25_search's default AND the SQL oracle's
# LIMIT — and imported by retrieval.py as the RRF lexical list size,
# so the three can never drift apart
BM25_TOP_N = 20


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_n: int = BM25_TOP_N,
) -> DataFrame:
    """Lexical retrieval next to the ANN family: score every document
    against a bag of query terms with BM25 and keep the top_n.

    Plan shape at corpus scale: tokens explode once, the tiny query
    term set prunes them immediately (broadcast hash semi-filter via
    isin — the filter reaches the exploded stream before any shuffle),
    tf aggregates per (doc, term) and df per term; both count tables
    are at most |query| rows wide, so the scoring join broadcasts.
    The corpus is scanned once (plus the doclen scan the optimizer
    shares); nothing ever shuffles more than the matched postings.
    IDF uses the Robertson-Sparck Jones form LN(1 + (N - df + 0.5) /
    (df + 0.5)) — always positive, standard in Lucene."""
    toks = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("tok")
    )
    doclen = docs.select(
        "doc_id", F.size(_tokens_col()).alias("dl")
    )
    n_and_avg = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    matched = toks.filter(F.col("tok").isin(query_terms))
    tf = matched.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score_term = idf * (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(n_and_avg))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(score_term), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return scored.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(top_n)


#: fixed demo query — terms chosen to hit a spread of testdata docs
BM25_QUERY_TERMS = ["data", "model", "the", "pipeline"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, BM25_QUERY_TERMS)


def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


BM25_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKENIZE}) AS tok FROM documents
),
doclen AS (
  SELECT doc_id, len({_TOKENIZE}) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({_bm25_terms_sql()})
  GROUP BY doc_id, tok
),
df_t AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
)
SELECT doc_id,
  ROUND(SUM(
    LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    * tf * ({BM25_K1} + 1.0)
    / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))
  ), 6) AS bm25,
  COUNT(*) AS n_terms_matched
FROM tf JOIN df_t USING (tok) JOIN doclen USING (doc_id) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_N}
"""


# ----------------------------------------------- BPE pair statistics
BPE_TOP_K = 30


def bpe_pair_counts(docs: DataFrame) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the inner
    loop of BPE tokenizer training, in its scalable shape.

    The 100 TB trick is the word-TYPE table: collapse the corpus to
    distinct words with occurrence counts first (Zipf-bounded — a
    fraction of corpus size), then explode character pairs over types
    only, weighting by the count.  Exploding pairs over raw tokens
    would shuffle ~avg_word_len × corpus_tokens rows; over types it is
    ~avg_word_len × |vocab|.

    Output: top BPE_TOP_K merge candidates by total frequency, with
    the number of distinct word types each pair appears in.
    """
    words = (
        docs.select(F.explode(F.expr(_TOKENIZE_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_cnt"))
    )
    # length >= 2 guard matters: sequence(1, 0) steps BACKWARDS in
    # Spark (inferred step -1), so 1-char words would fabricate pairs
    pairs = words.where(F.length("word") >= 2).select(
        "word",
        "word_cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            # position-weighted: a pair occurring twice inside one word
            # counts that word's frequency twice (BPE merge semantics)
            F.sum("word_cnt").alias("pair_count"),
            F.countDistinct("word").alias("n_word_types"),
        )
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(BPE_TOP_K)
    )


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BPE merge candidates over the documents corpus."""
    from ..sources.io import load_table

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"))


BPE_PAIR_STATS_SQL = f"""
WITH words AS (
  SELECT word, COUNT(*) AS word_cnt
  FROM (SELECT UNNEST({_TOKENIZE}) AS word FROM documents)
  GROUP BY word
),
pairs AS (
  SELECT word, word_cnt,
         UNNEST(list_transform(range(1, LENGTH(word)),
                               i -> substring(word, i, 2))) AS pair
  FROM words
  WHERE LENGTH(word) >= 2
)
SELECT pair,
       CAST(SUM(word_cnt) AS BIGINT) AS pair_count,
       COUNT(DISTINCT word) AS n_word_types
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_TOP_K}
"""


# ------------------------------------------- skip-gram co-occurrence
#
# (w1, w2, n) counts of token pairs co-occurring within a ±SKIP_WINDOW
# window — the training-pair table of word2vec-style embedding
# pipelines (Mikolov et al. 2013), and a corpus-statistics building
# block for PMI/collocation mining.  Pairs are built ROW-LOCAL like
# the bigram op above (slice + transform over the token array, one
# flatten, one explode): no positional self-join, so the corpus is
# never re-shuffled by position — the only exchange is the final
# Zipf-bounded (w1, w2) count, and the top-k runs as
# TakeOrderedAndProject.  w1 is always the earlier token; symmetric
# counts are recovered by the consumer as n(a,b) + n(b,a).

SKIP_WINDOW = 2
SKIPGRAM_TOP_K = 30


def skipgram_pairs(docs: DataFrame, window: int = SKIP_WINDOW) -> DataFrame:
    """Exploded (w1, w2) pairs, w1 at the earlier position, distance
    1..window."""
    per_delta = ", ".join(
        f"transform(slice(toks, 1, greatest(size(toks) - {d}, 0)),"
        f" (w, i) -> struct(w AS w1, toks[i + {d}] AS w2))"
        for d in range(1, window + 1)
    )
    return (
        docs.select(F.expr(_TOKENIZE_SPARK).alias("toks"))
        .select(F.explode(F.expr(f"flatten(array({per_delta}))")).alias("p"))
        .select("p.w1", "p.w2")
    )


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 within-±2 co-occurring token pairs across the corpus
    (ties broken by w1, w2 — total order)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        skipgram_pairs(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(SKIPGRAM_TOP_K)
    )


SKIPGRAM_PAIRS_SQL = f"""
WITH t AS (
  SELECT {_TOKENIZE} AS toks FROM documents
),
p AS (
  SELECT toks[i] AS w1, toks[i + d] AS w2
  FROM t,
       UNNEST(range(1, LEN(toks) + 1)) AS u(i),
       UNNEST([{", ".join(str(d) for d in range(1, SKIP_WINDOW + 1))}]) AS dd(d)
  WHERE i + d <= LEN(toks)
)
SELECT w1, w2, COUNT(*) AS n
FROM p GROUP BY w1, w2
ORDER BY n DESC, w1, w2 LIMIT {SKIPGRAM_TOP_K}
"""


# ------------------------------------------------- PMI collocations
#
# Pointwise mutual information over the ±SKIP_WINDOW co-occurrence
# pairs above: PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P(a,b) over
# the pair space and P(w) over the token space — the classic
# collocation-mining statistic (Church & Hanks 1990), and the signal
# word2vec's SGNS implicitly factorizes.  A minimum pair count keeps
# the estimate out of the small-sample noise floor.
#
# Determinism: both engines evaluate the IDENTICAL arithmetic shape
# ((n_pair·N_tok·N_tok) / (N_pairs·n_a·n_b), one LN, one ROUND) on
# identical integers, so the doubles agree bit-for-bit; ordering uses
# the rounded value with (w1, w2) tie-breaks — a total order.
#
# Scale shape: pair/unigram count tables are Zipf-bounded, the two
# scalar totals ride in a 1-row broadcast, and the two count joins are
# broadcastable under AQE.  The corpus itself is scanned twice (pairs,
# unigrams) and never re-keyed by anything wider than a token.

PMI_MIN_PAIR = 5
PMI_TOP_K = 20


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs_all = (
        skipgram_pairs(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    pairs = pairs_all.filter(F.col("n_pair") >= PMI_MIN_PAIR)
    toks = docs.select(F.explode(F.expr(_TOKENIZE_SPARK)).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    # the scalar totals FOLD the count tables (Zipf-bounded) instead of
    # re-tokenizing / re-pairing the corpus — two corpus scans total,
    # not four
    totals = (
        uni.agg(F.sum("n_tok").cast("long").alias("n_tok_total"))
        .crossJoin(
            pairs_all.agg(
                F.sum("n_pair").cast("long").alias("n_pairs_total")
            )
        )
    )
    return (
        pairs.join(uni.withColumnRenamed("tok", "w1")
                   .withColumnRenamed("n_tok", "c1"), "w1")
        .join(uni.withColumnRenamed("tok", "w2")
              .withColumnRenamed("n_tok", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.expr(
                "round(ln((cast(n_pair as double) * n_tok_total"
                " * n_tok_total) / (cast(n_pairs_total as double)"
                " * c1 * c2)), 6)"
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


PMI_COLLOCATIONS_SQL = f"""
WITH t AS (
  SELECT {_TOKENIZE} AS toks FROM documents
),
p AS (
  SELECT toks[i] AS w1, toks[i + d] AS w2
  FROM t,
       UNNEST(range(1, LEN(toks) + 1)) AS u(i),
       UNNEST([{", ".join(str(d) for d in range(1, SKIP_WINDOW + 1))}]) AS dd(d)
  WHERE i + d <= LEN(toks)
),
pairs AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM p GROUP BY w1, w2
  HAVING COUNT(*) >= {PMI_MIN_PAIR}
),
toks AS (SELECT UNNEST(toks) AS tok FROM t),
uni AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
tot AS (
  SELECT (SELECT COUNT(*) FROM toks) AS n_tok_total,
         (SELECT COUNT(*) FROM p) AS n_pairs_total
)
SELECT w1, w2, n_pair,
       ROUND(LN((CAST(n_pair AS DOUBLE) * n_tok_total * n_tok_total)
                / (CAST(n_pairs_total AS DOUBLE) * u1.n_tok * u2.n_tok)),
             6) AS pmi
FROM pairs
JOIN uni u1 ON pairs.w1 = u1.tok
JOIN uni u2 ON pairs.w2 = u2.tok
CROSS JOIN tot
ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}
"""


# --------------------------------------------- full BPE merge loop
#
# q_bpe_pair_stats above is ONE round of the BPE tokenizer-training
# inner loop; this is the loop itself (Sennrich et al. 2016): N rounds
# of  count adjacent symbol pairs -> merge the most frequent pair in
# every word type -> recount.  Output is the learned merge table
# (merge_round, left_sym, right_sym, merged, pair_count) — the actual
# artifact a tokenizer trainer persists.
#
# Scale shape: the loop runs entirely on the word-TYPE table
# (Zipf-bounded — |vocab| rows, NOT corpus tokens), exactly like
# production BPE trainers (HuggingFace tokenizers, SentencePiece).
# Per round: one (a, b) groupBy over row-local exploded pairs, a
# 1-row top-1 (TakeOrderedAndProject), and a ROW-LOCAL fold that
# applies the merge inside each token array — no shuffle of the type
# table, no per-round repartitioning.  The 1-row top frame is
# broadcast; each round's type table is persisted so round r+1 reads
# the materialized merge of round r instead of recomputing the chain
# (the PageRank iterative discipline, graph.py).
#
# Merge semantics (both engines, proven equivalent in
# tests/test_round6.py::test_bpe_fold_matches_greedy):
# leftmost-greedy, non-overlapping — "aaa" under pair (a,a) becomes
# ["aa","a"], and a symbol produced by a merge in this round never
# re-merges as the LEFT side within the same round (a+b == a is
# impossible for non-empty b).  Spark applies it as a left fold
# (aggregate HOF); the DuckDB oracle applies the equivalent
# position-parity rule (candidate positions grouped into consecutive
# runs; even offsets within each run merge).  Tie-breaks are exact:
# (pair_count DESC, left ASC, right ASC) over integer counts.

N_BPE_MERGES = 4

_BPE_PAIRS_EXPR = (
    "transform(sequence(1, size(toks) - 1),"
    " i -> named_struct('a', element_at(toks, i),"
    " 'b', element_at(toks, i + 1)))"
)

_BPE_MERGE_FOLD = (
    "aggregate(toks, CAST(array() AS array<string>),"
    " (out, t) -> CASE WHEN size(out) > 0"
    " AND element_at(out, -1) = {PA} AND t = {PB}"
    " THEN concat(slice(out, 1, size(out) - 1), array(concat({PA}, {PB})))"
    " ELSE concat(out, array(t)) END)"
)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_train(
    docs: DataFrame, n_merges: int = N_BPE_MERGES
) -> tuple[list[tuple], DataFrame]:
    """The BPE training loop: returns (learned merges, final word-TYPE
    table ``(cnt, toks)`` with all merges applied).

    Per round: one distributed pair-count job, a 1-ROW top-pair fetch
    to the driver (the merge decision IS driver state in every real
    BPE trainer — tokenizers/SentencePiece do exactly this), then the
    row-local merge fold with the pair embedded as literals, and a
    localCheckpoint so round r+1 reads materialized arrays instead of
    replaying r rounds of lineage (PageRank's iterative discipline)."""
    words = (
        docs.select(F.explode(F.expr(_TOKENIZE_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cnt",
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            ).alias("toks"),
        )
    )
    merges: list[tuple] = []
    with RoundLoop("bpe", keep_last=True) as loop:
        w = loop.checkpoint(words)
        for r in loop.rounds(range(1, n_merges + 1)):
            # the merge decision is an argmax over a GROUPED count, which
            # no observation on the checkpoint job can express — it stays
            # one bounded fetch
            rows = (
                w.filter(F.size("toks") >= 2)
                .select(
                    "cnt", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("pr")
                )
                .groupBy(
                    F.col("pr.a").alias("pa"), F.col("pr.b").alias("pb")
                )
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("pa").asc(),
                    F.col("pb").asc(),
                )
                .limit(1)
                .collect()
            )
            if not rows:
                # vocabulary fully merged before n_merges rounds — stop,
                # like real trainers do.  (The registered query's corpus
                # always supports N_BPE_MERGES rounds; the chained-CTE
                # oracle assumes it, so a short merge table would
                # surface as a row-count mismatch there, not silently.)
                break
            top = rows[0]
            merges.append(
                (r, top.pa, top.pb, top.pa + top.pb, int(top.pair_count))
            )
            fold = _BPE_MERGE_FOLD.format(
                PA=_sql_str(top.pa), PB=_sql_str(top.pb)
            )
            w = loop.checkpoint(w.select("cnt", F.expr(fold).alias("toks")))
    return merges, w


def bpe_merges(docs: DataFrame, n_merges: int = N_BPE_MERGES) -> DataFrame:
    """Learned merge table after ``n_merges`` BPE rounds over the
    word-type table of ``docs.text`` (see ``bpe_train``)."""
    merges, _ = bpe_train(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges,
        "merge_round long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import load_table

    return bpe_merges(load_table(spark, sf_dir, "documents"))


BPE_VOCAB_TOP_K = 30


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY step — what a 100 TB pipeline actually runs
    after training: corpus token-frequency table under the learned
    merges.  The Zipf trick makes it cheap: merges are applied to the
    word-TYPE table (|vocab| rows, already materialized by the training
    loop), and corpus-level counts come from summing the type counts —
    the raw token stream is never re-walked.  Top-k is a
    TakeOrderedAndProject; the oracle reuses the training replay's
    final ``w{N}`` CTE verbatim, so a divergence in ANY merge round
    also fails this query."""
    from ..sources.io import load_table

    _, w = bpe_train(load_table(spark, sf_dir, "documents"))
    return (
        w.select(F.explode("toks").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(BPE_VOCAB_TOP_K)
        .select(
            "token",
            F.length("token").cast("long").alias("token_len"),
            "n_occurrences",
        )
    )


def _bpe_merges_sql(n_merges: int = N_BPE_MERGES) -> str:
    # MATERIALIZED is load-bearing: the round-r CTEs reference w{r-1}
    # several times, and letting the planner inline them re-expands the
    # whole merge chain per reference (exponential in n_merges — 117s
    # vs 0.1s at sf0.01, measured).
    ctes = [
        f"""wds AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT UNNEST({_TOKENIZE}) AS word FROM documents)
  GROUP BY word
)""",
        """w0 AS MATERIALIZED (
  SELECT word, cnt,
         list_transform(range(1, length(word) + 1),
                        i -> substring(word, i, 1)) AS toks
  FROM wds
)""",
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        ctes.append(f"""pos{r} AS MATERIALIZED (
  SELECT word, cnt, i, toks[i] AS tok
  FROM w{p}, UNNEST(range(1, len(toks) + 1)) AS u(i)
)""")
        ctes.append(f"""top{r} AS MATERIALIZED (
  SELECT l.tok AS a, rr.tok AS b, SUM(l.cnt) AS pair_count
  FROM pos{r} l JOIN pos{r} rr ON rr.word = l.word AND rr.i = l.i + 1
  GROUP BY l.tok, rr.tok
  ORDER BY pair_count DESC, a ASC, b ASC
  LIMIT 1
)""")
        ctes.append(f"""cand{r} AS MATERIALIZED (
  SELECT l.word, l.i,
         ROW_NUMBER() OVER (PARTITION BY l.word ORDER BY l.i) AS rn
  FROM pos{r} l
  JOIN pos{r} rr ON rr.word = l.word AND rr.i = l.i + 1
  CROSS JOIN top{r} t
  WHERE l.tok = t.a AND rr.tok = t.b
)""")
        ctes.append(f"""kept{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i,
           i - MIN(i) OVER (PARTITION BY word, i - rn) AS off
    FROM cand{r}
  ) WHERE off % 2 = 0
)""")
        ctes.append(f"""w{r} AS MATERIALIZED (
  SELECT p.word, MIN(p.cnt) AS cnt,
         list(CASE WHEN k.i IS NOT NULL THEN t.a || t.b
                   ELSE p.tok END ORDER BY p.i) AS toks
  FROM pos{r} p
  CROSS JOIN top{r} t
  LEFT JOIN kept{r} k ON k.word = p.word AND k.i = p.i
  LEFT JOIN kept{r} k2 ON k2.word = p.word AND k2.i = p.i - 1
  WHERE k2.i IS NULL
  GROUP BY p.word
)""")
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS left_sym,"
        f" b AS right_sym, a || b AS merged,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, n_merges + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_tokenize_sql() -> str:
    """Apply-step oracle: the merge replay's final w{N} CTE is exactly
    the post-merge word-type table, so the vocabulary count is one
    aggregate over it — any training divergence surfaces here too."""
    base = _bpe_merges_sql(N_BPE_MERGES)
    ctes = base[: base.index("\nSELECT CAST(1 AS BIGINT)")]
    return (
        ctes
        + f"""
SELECT token, CAST(length(token) AS BIGINT) AS token_len,
       CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT UNNEST(toks) AS token, cnt FROM w{N_BPE_MERGES})
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT {BPE_VOCAB_TOP_K}"""
    )


BPE_MERGES_SQL = _bpe_merges_sql()
BPE_TOKENIZE_SQL = _bpe_tokenize_sql()


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer quality metric a pretraining pipeline tracks per
    corpus slice: characters-per-token under the learned BPE merges,
    per document.  The Zipf trick again: post-merge token counts live
    on the word-TYPE table (|vocab| rows); each document's BPE token
    count is the sum of its words' counts through one broadcastable
    vocab join — the corpus text is tokenized once and never re-walked
    by the merge machinery.  Documents are bucketed by rounded
    chars-per-token so the result is a compact distribution table
    (bucket, n_docs, total tokens), not 100 TB of per-doc rows."""
    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    _, w = bpe_train(docs)
    # concatenating the merged tokens reconstructs the word exactly
    # (merges only ever concatenate adjacent symbols)
    vocab = w.select(
        F.array_join(F.col("toks"), "").alias("word"),
        F.size("toks").cast("long").alias("n_toks"),
    )
    doc_words = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_doc"),
        F.explode(F.expr(_TOKENIZE_SPARK)).alias("word"),
    )
    per_doc = (
        doc_words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "n_chars_doc")
        .agg(F.sum("n_toks").alias("n_bpe_tokens"))
        .withColumn(
            "chars_per_token",
            F.round(F.col("n_chars_doc") / F.col("n_bpe_tokens"), 1),
        )
    )
    return per_doc.groupBy("chars_per_token").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").alias("total_tokens"),
    )


def _bpe_compression_sql() -> str:
    """Oracle: the merge replay's final w{N} CTE again — vocab token
    counts joined back to per-document words."""
    base = _bpe_merges_sql(N_BPE_MERGES)
    ctes = base[: base.index("\nSELECT CAST(1 AS BIGINT)")]
    return (
        ctes
        + f""",
vocab AS MATERIALIZED (
  SELECT array_to_string(toks, '') AS word,
         CAST(len(toks) AS BIGINT) AS n_toks
  FROM w{N_BPE_MERGES}
),
doc_words AS (
  SELECT doc_id, LENGTH(text) AS n_chars_doc,
         UNNEST({_TOKENIZE}) AS word
  FROM documents
),
per_doc AS (
  SELECT doc_id, n_chars_doc, SUM(n_toks) AS n_bpe_tokens
  FROM doc_words d JOIN vocab v ON v.word = d.word
  GROUP BY doc_id, n_chars_doc
)
SELECT ROUND(n_chars_doc / n_bpe_tokens, 1) AS chars_per_token,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_tokens
FROM per_doc
GROUP BY 1"""
    )


BPE_COMPRESSION_SQL = _bpe_compression_sql()
