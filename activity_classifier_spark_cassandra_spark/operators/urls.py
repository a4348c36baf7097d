"""URL canonicalization and URL-level first-occurrence dedup.

The first stage of every real crawl pipeline (CCNet, RefinedWeb)
dedups by NORMALIZED URL before any content pass — the same page
re-crawled with a different scheme case, a default port, tracking
query parameters, a fragment, or shuffled parameter order must
collapse to one canonical key.  The reference engine has no crawl
stage; this is part of the LLM-data-pipeline extension surface
(SURVEY.md §2.12), upstream of the content dedups in ``dedup.py``.

Canonicalization rules (the standard RFC 3986 §6 safe set plus the
tracking-parameter strip every production pipeline adds):

* scheme and host lowercased;
* default ports stripped (``:443`` for https, ``:80`` for http);
* ``/./`` segments collapsed and ``name/../`` pairs — including a
  TERMINAL ``name/..`` with no trailing slash — resolved to a
  FIXED POINT (bounded re-application, so nested ``a/b/../../c``
  fully resolves and canonicalization is idempotent);
* trailing slashes stripped — including the root slash, so
  ``https://s.com/`` and ``https://s.com`` (RFC 3986 §6.2.3
  equivalents for http/https) collapse to the same key;
* the fragment dropped; the query is everything after the FIRST
  ``?`` (RFC 3986 §3.4 — later ``?`` characters are query DATA);
* tracking parameters dropped (``utm_*``, ``ref``, ``fbclid``,
  ``gclid``); the surviving query parameters sorted.

Everything is built-in string expressions — ``substring_index``,
``regexp_replace``, ``filter``/``array_sort`` over the split query —
inside whole-stage codegen; no UDF, no shuffle until the dedup.

The dedup itself is the skew-safe first-occurrence shape used
everywhere in this repo: ``groupBy(canon).agg(min(struct(doc_id)))``
+ join-back — never a window over the canonical URL.  MEASURED trade
(round-11 hot-key probe, BASELINE.md): at 20M rows with a 4M-row hot
key the window is actually ~2.6x FASTER flat (one canonicalization
pass + one exchange vs this shape's two of each — plan branches
cannot share the canon expression), and a 4M-row in-task sort is
cheap.  The agg shape is kept anyway because its failure mode is
bounded: the partial min collapses any hot key map-side and the
join-back is AQE-skew-splittable, while the window's hot key is ONE
task whose memory grows without bound — at 100 TB a boilerplate URL
holds billions of rows and that task dies.  Insurance costs ~2.6x on
the flat case; the cliff it removes is unbounded.

The ``documents`` testdata carries no url column, so the registry
query derives one deterministically from (doc_id, source): every
three consecutive doc_ids name the SAME logical page, and doc_id % 6
picks one of six raw encodings of it (case/port/params/fragment/
dot-segment variants).  The derivation is replayed verbatim in the
DuckDB oracle, so the canonicalizer — not the synthesis — is what
the hash comparison checks.

Scale shape (100 TB): derivation + canonicalization are row-local
projections; the one exchange is the groupBy on the canonical-URL
key; the join back broadcasts nothing corpus-sized and splits hot
keys under AQE.  Linear, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table

# tracking parameters every production canonicalizer strips
_TRACKING_PREFIXES = ("utm_",)
_TRACKING_KEYS = ("ref", "fbclid", "gclid")

# a path segment that is NOT the literal '.' or '..' (so '/v1.2/../x'
# resolves but '/../..' is left alone, matching RFC 3986 §5.2.4's
# treatment of leading dot-dots at the root).  Alternation instead of
# lookahead so the same pattern runs under both Java regex (Spark)
# and RE2 (DuckDB).
_SEG = "([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"

# '/seg/../' pairs can nest ('/a/b/../../c' needs two passes), so the
# replacement is re-applied this many times — a bounded fixed-point
# that both engines evaluate identically.  8 levels of '..' nesting
# covers any real crawl URL.
_DOTDOT_PASSES = 8


def _strip_tracking_pred_spark(var: str) -> str:
    """Boolean SQL over one ``k=v`` pair: TRUE when the pair survives."""
    drops = [f"{var} LIKE '{p}%'" for p in _TRACKING_PREFIXES]
    drops += [f"{var} LIKE '{k}=%'" for k in _TRACKING_KEYS]
    return "NOT (" + " OR ".join(drops) + ")"


def canonical_url_expr() -> Column:
    """Canonical form of the ``url`` column as one built-in expression
    tree."""
    u = "url"
    # 1. drop the fragment, split path-part from query-part.  The
    # query is everything after the FIRST '?' (RFC 3986 §3.4) — a
    # second '?' is query data, so substring_index(.., '?', -1)
    # would drop the real front of the query.
    nofrag = f"substring_index({u}, '#', 1)"
    base = f"substring_index({nofrag}, '?', 1)"
    query = (
        f"CASE WHEN instr({nofrag}, '?') > 0 "
        f"THEN substr({nofrag}, instr({nofrag}, '?') + 1) ELSE '' END"
    )
    # 2. scheme/host lowercase, default ports stripped
    scheme = f"lower(substring_index({base}, '://', 1))"
    rest = f"substring_index({base}, '://', -1)"
    hostraw = f"lower(substring_index({rest}, '/', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' THEN"
        f" regexp_replace({hostraw}, ':443$', '')"
        f" WHEN {scheme} = 'http' THEN"
        f" regexp_replace({hostraw}, ':80$', '')"
        f" ELSE {hostraw} END"
    )
    # 3. path: dot-segments resolved, trailing slashes stripped
    path0 = (
        f"CASE WHEN instr({rest}, '/') > 0 "
        f"THEN substr({rest}, instr({rest}, '/')) ELSE '' END"
    )
    path1 = f"regexp_replace({path0}, '/(\\\\./)+', '/')"
    # '/seg/../' resolved to a fixed point: one regexp pass only
    # halves nested parents ('/a/b/../../c' -> '/a/../c'), so the
    # replacement is re-applied _DOTDOT_PASSES times.  Spark SQL
    # string literals consume one backslash level, hence the escape.
    seg = _SEG.replace("\\", "\\\\")
    path2 = path1
    for _ in range(_DOTDOT_PASSES):
        path2 = f"regexp_replace({path2}, '/{seg}/\\\\.\\\\./', '/')"
        # a TERMINAL '/seg/..' (no trailing slash) is the same RFC
        # 3986 §5.2.4 parent step — without this pass '/a/b/..' and
        # '/a/b/../' canonicalize to different keys
        path2 = f"regexp_replace({path2}, '/{seg}/\\\\.\\\\.$', '/')"
    # dot-segment work gated on ONE instr: both patterns need a '/.'
    # substring to match ('/../' contains it), and real crawl URLs
    # almost never carry dot segments, so the 9 regex passes are
    # identity for ~every row — the guard skips them (measured 1.9x
    # on the 20M-row hot-key probe).  Mirrored in the oracle.
    dotpath = f"CASE WHEN instr({path0}, '/.') = 0 THEN {path0} ELSE {path2} END"
    path = f"regexp_replace({dotpath}, '/+$', '')"
    # 4. query: tracking params dropped, the rest sorted
    keep = _strip_tracking_pred_spark("p")
    qsorted = (
        f"array_join(array_sort(filter(split({query}, '&'), "
        f"p -> p != '' AND {keep})), '&')"
    )
    return F.expr(
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {qsorted} = '' THEN '' ELSE concat('?', {qsorted}) END)"
    )


def canonicalize_urls(df: DataFrame) -> DataFrame:
    """Append ``canon_url`` to ``df``."""
    return df.withColumn("canon_url", canonical_url_expr())


def url_dedup(df: DataFrame) -> DataFrame:
    """First-occurrence URL dedup: (all input columns, canon_url,
    keep) — ``keep`` is true for the LOWEST doc_id per canonical URL.

    The bounded-failure-mode shape: first-occurrence via min(struct)
    aggregate + join-back.  Collapses any hot key map-side, but pays
    TWO canonicalization passes and two exchanges on flat data
    (measured 2.6x vs a window at the 20M-row probe — plan branches
    cannot share the canon expression).  ``url_dedup_hybrid`` routes
    between this and the cheap window per detected key and is the
    registry default."""
    canon = canonicalize_urls(df)
    firsts = (
        canon.groupBy("canon_url")
        .agg(F.min(F.struct("doc_id")).alias("_f"))
        .select("canon_url", F.col("_f.doc_id").alias("_first_doc"))
    )
    return canon.join(firsts, "canon_url").withColumn(
        "keep", F.col("doc_id") == F.col("_first_doc")
    ).drop("_first_doc")


HOT_MIN_ROWS = 1_000_000  # rows one task sorts comfortably
HOT_SAMPLE_FRACTION = 0.01  # share of the corpus hot-key detection reads
HOT_SALTS = 64        # tasks a detected hot key is split across
HOT_KEYS_MAX = 4096   # expression-routing cap (IN-list size)


def detect_hot_canon_urls(df: DataFrame) -> DataFrame:
    """(canon_url) keys whose estimated row count exceeds
    ``HOT_MIN_ROWS``, from a seeded Bernoulli sample — the detection
    canonicalizes only ``HOT_SAMPLE_FRACTION`` of the corpus, so the
    scan costs ~1% of a full pass plus one keys-only metadata exchange.

    The detection threshold is HALF the expected sample count of a
    key at ``HOT_MIN_ROWS`` (Chernoff: a genuinely hot key at 2x the
    floor misses with vanishing probability; a borderline key near
    the floor may land either side — harmless, both routes compute
    identical values and both handle ~HOT_MIN_ROWS rows fine)."""
    thresh = max(1, int(HOT_MIN_ROWS * HOT_SAMPLE_FRACTION / 2))
    sampled = canonicalize_urls(
        df.sample(fraction=HOT_SAMPLE_FRACTION, seed=414)
    )
    return (
        sampled.groupBy("canon_url")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= thresh)
        .select("canon_url")
    )


def url_dedup_hybrid(
    df: DataFrame, hot_keys: list[str] | None = None
) -> DataFrame:
    """Hot-key-routed first-occurrence URL dedup — same output as
    ``url_dedup``, the skew-hybrid idea applied to the canonical-URL
    key as ONE canonicalization pass and ONE corpus exchange.

    The first cut of this hybrid routed via semi/anti joins and LOST:
    each branch re-evaluated the canonicalizer (three full passes —
    measured slower than the always-agg shape it was meant to fix,
    BASELINE.md round-12).  Plan branches cannot share an expression,
    so the only shapes that canonicalize once are those with a single
    consumer chain or a shared EXCHANGE.  Hence:

    * detection samples ``HOT_SAMPLE_FRACTION`` of the corpus and
      COLLECTS the flagged keys — a bounded driver fetch by
      construction (<= corpus_rows/HOT_MIN_ROWS keys, the same
      metadata-scale argument as the trained-centroid literals);
    * routing is a pure expression: hot rows get a doc_id salt,
      cold rows salt 0 — no join, so the canonicalizer runs exactly
      once, inside the map side of the window exchange;
    * ``keep`` comes from a window min over (canon_url, salt): for
      cold keys that IS the answer; a hot key is split across
      ``HOT_SALTS`` bounded tasks, and its true minimum comes from a
      direct map-side-combining aggregate over ONLY the hot rows —
      a metadata-scale frame (|hot keys| rows) broadcast back.  The
      corpus shuffles ONCE; the canonicalizer is evaluated a second
      time only on a hot corpus (the partial-agg branch — exchange
      reuse cannot share it because column pruning specializes each
      branch), which is still one full exchange cheaper than the
      always-agg shape;
    * with no hot keys detected the optimizer folds the empty IN-list
      to false, prunes the hot subtrees, and the plan IS the plain
      one-pass window — insurance costs one sampled detection scan.

    A corpus with more than ``HOT_KEYS_MAX`` simultaneously-hot keys
    falls back to the always-agg ``url_dedup`` (IN-list routing stops
    being metadata there; every one of its keys is map-side
    collapsible by construction).

    Routing cannot change values: every path computes keep =
    (doc_id == min(doc_id) per canon_url) exactly, so output equality
    with ``url_dedup`` holds for ANY routing — pinned by
    tests/test_urls.py with forced hot-key lists."""
    from pyspark.sql import Window

    if hot_keys is None:
        hot_keys = sorted(
            r["canon_url"]
            for r in detect_hot_canon_urls(df).collect()
        )
    if len(hot_keys) > HOT_KEYS_MAX:
        return url_dedup(df)

    canon = canonicalize_urls(df)
    if not hot_keys:
        w = Window.partitionBy("canon_url")
        return canon.withColumn(
            "keep", F.col("doc_id") == F.min("doc_id").over(w)
        )

    is_hot = F.col("canon_url").isin(hot_keys)
    salted = canon.withColumn(
        "_salt",
        F.when(is_hot, F.pmod(F.col("doc_id"), F.lit(HOT_SALTS)))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    w = Window.partitionBy("canon_url", "_salt")
    df1 = salted.withColumn("_local_min", F.min("doc_id").over(w))
    hotmin = (
        canon.filter(F.col("canon_url").isin(hot_keys))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("_hot_min"))
    )
    return (
        df1.join(F.broadcast(hotmin), "canon_url", "left")
        .withColumn(
            "keep",
            F.col("doc_id") == F.coalesce("_hot_min", "_local_min"),
        )
        .drop("_salt", "_local_min", "_hot_min")
    )


# ------------------------------------------------- registry query
#
# Synthetic raw URL, derived deterministically from doc_id: page =
# doc_id DIV 3 (three consecutive docs -> the same logical page, and
# the host derives from the page so page-mates share it), variant =
# doc_id % 6 picks the raw encoding.  Variants 0/1/2/3/5 canonicalize
# identically per page; variant 4 keeps sorted real query params (a
# genuinely different page — dedup must NOT merge it).

_PAGE = "CAST(doc_id DIV 3 AS STRING)"
_SITE = "CAST((doc_id DIV 3) % 25 AS STRING)"
_HOST = f"concat('www.s', {_SITE}, '.example.com')"
_HOSTU = f"concat('WWW.S', {_SITE}, '.Example.COM')"

_RAW_URL = f"""CASE CAST(doc_id % 6 AS INT)
 WHEN 0 THEN concat('https://', {_HOST}, '/articles/', {_PAGE})
 WHEN 1 THEN concat('HTTPS://', {_HOSTU}, ':443/articles/', {_PAGE}, '/')
 WHEN 2 THEN concat('https://', {_HOST}, '/articles/', {_PAGE},
                    '?utm_source=feed&utm_campaign=x')
 WHEN 3 THEN concat('https://', {_HOST}, '/articles/', {_PAGE},
                    '?ref=tw#section-2')
 WHEN 4 THEN concat('https://', {_HOST}, ':443/articles/', {_PAGE},
                    '?b=2&a=1')
 ELSE concat('https://', {_HOST}, '/./articles/x/../', {_PAGE})
END"""


def with_synthetic_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): the deterministic synthetic raw URLs."""
    return docs.select("doc_id", F.expr(_RAW_URL).alias("url"))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + first-occurrence dedup over the derived
    crawl URLs: (doc_id, url, canon_url, keep).  Routes through the
    hot-key hybrid (the production shape); on this flat corpus the
    detection finds no hot keys, so the whole frame takes the
    one-pass window branch."""
    docs = load_table(spark, sf_dir, "documents")
    out = url_dedup_hybrid(with_synthetic_urls(docs))
    return out.select("doc_id", "url", "canon_url", "keep")


# ------------------------------------------------- DuckDB oracle

_PAGE_SQL = "CAST(doc_id // 3 AS VARCHAR)"
_SITE_SQL = "CAST((doc_id // 3) % 25 AS VARCHAR)"
_HOST_SQL = f"concat('www.s', {_SITE_SQL}, '.example.com')"
_HOSTU_SQL = f"concat('WWW.S', {_SITE_SQL}, '.Example.COM')"

_RAW_URL_SQL = f"""CASE CAST(doc_id % 6 AS INT)
 WHEN 0 THEN concat('https://', {_HOST_SQL}, '/articles/', {_PAGE_SQL})
 WHEN 1 THEN concat('HTTPS://', {_HOSTU_SQL}, ':443/articles/',
                    {_PAGE_SQL}, '/')
 WHEN 2 THEN concat('https://', {_HOST_SQL}, '/articles/', {_PAGE_SQL},
                    '?utm_source=feed&utm_campaign=x')
 WHEN 3 THEN concat('https://', {_HOST_SQL}, '/articles/', {_PAGE_SQL},
                    '?ref=tw#section-2')
 WHEN 4 THEN concat('https://', {_HOST_SQL}, ':443/articles/',
                    {_PAGE_SQL}, '?b=2&a=1')
 ELSE concat('https://', {_HOST_SQL}, '/./articles/x/../', {_PAGE_SQL})
END"""


def _canon_sql(u: str) -> str:
    """The canonicalizer, replayed in DuckDB SQL."""
    drops = [f"p LIKE '{p}%'" for p in _TRACKING_PREFIXES]
    drops += [f"p LIKE '{k}=%'" for k in _TRACKING_KEYS]
    keep = "NOT (" + " OR ".join(drops) + ")"
    nofrag = f"split_part({u}, '#', 1)"
    base = f"split_part({nofrag}, '?', 1)"
    # everything after the FIRST '?' — split_part(.., '?', 2) would
    # truncate a query containing a literal second '?'
    query = (
        f"CASE WHEN instr({nofrag}, '?') > 0 "
        f"THEN substr({nofrag}, instr({nofrag}, '?') + 1) ELSE '' END"
    )
    scheme = f"lower(split_part({base}, '://', 1))"
    rest = f"split_part({base}, '://', 2)"
    hostraw = f"lower(split_part({rest}, '/', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' THEN"
        f" regexp_replace({hostraw}, ':443$', '')"
        f" WHEN {scheme} = 'http' THEN"
        f" regexp_replace({hostraw}, ':80$', '')"
        f" ELSE {hostraw} END"
    )
    path0 = (
        f"CASE WHEN instr({rest}, '/') > 0 "
        f"THEN substr({rest}, instr({rest}, '/')) ELSE '' END"
    )
    path1 = f"regexp_replace({path0}, '/(\\./)+', '/', 'g')"
    # same bounded fixed point as the Spark side; DuckDB (RE2) does
    # not process backslash escapes in string literals, so _SEG is
    # embedded verbatim
    path2 = path1
    for _ in range(_DOTDOT_PASSES):
        path2 = f"regexp_replace({path2}, '/{_SEG}/\\.\\./', '/', 'g')"
        # terminal '/seg/..' — same pass as the Spark side
        path2 = f"regexp_replace({path2}, '/{_SEG}/\\.\\.$', '/', 'g')"
    # same '/.' guard as the Spark side (identity when absent)
    dotpath = (
        f"CASE WHEN instr({path0}, '/.') = 0 THEN {path0} ELSE {path2} END"
    )
    path = f"regexp_replace({dotpath}, '/+$', '', 'g')"
    # COALESCE: DuckDB's array_to_string over an empty filtered list
    # yields NULL, not '' — without it the ELSE branch appends a bare
    # '?' to every query-less canonical URL
    qsorted = (
        f"COALESCE(array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'), p -> p <> '' AND {keep})), '&'), '')"
    )
    return (
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {qsorted} = '' THEN '' "
        f"ELSE concat('?', {qsorted}) END)"
    )


URL_DEDUP_SQL = f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
),
canon AS MATERIALIZED (
  SELECT doc_id, url, {_canon_sql("url")} AS canon_url FROM raw
),
firsts AS (
  SELECT canon_url, MIN(doc_id) AS first_doc FROM canon GROUP BY canon_url
)
SELECT c.doc_id, c.url, c.canon_url, c.doc_id = f.first_doc AS keep
FROM canon c JOIN firsts f USING (canon_url)
"""
