"""Retrieval-stack composition: hybrid lexical+dense search (RRF) and
MMR diversity re-ranking — the two head-of-pipeline operators every
RAG / training-data retrieval stack runs on top of the BM25 and ANN
families that already exist here.

Reference parity note: the reference (model/*.java) has no retrieval
surface at all — this is north-star scope next to the ANN family
(SURVEY.md §2.12 extension table).

Scale shape: both operators are *head* operators — the distributed
work is the candidate generation that already scales (BM25 postings
prune before any shuffle; dense top-k is one corpus scan with
broadcast queries); the fusion / re-rank itself runs on top-k
metadata (≤ tens of rows), so every join here is a broadcast of a
bounded frame and the corpus is never re-shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table
from .similarity import (
    _SQL_QC_COS,
    _sql_qc_top,
    cosine,
    split_queries,
    sql_cosine,
    sql_top_k,
    top_k,
)
from .text import (
    BM25_QUERY_TERMS,
    BM25_SEARCH_SQL,
    BM25_TOP_N,
    bm25_search,
)

# ------------------------------------------------- hybrid search (RRF)
#
# Reciprocal rank fusion (Cormack, Clarke, Buettcher, SIGIR 2009):
# score(d) = Σ_lists 1/(K + rank_list(d)) with the standard K=60.
# Rank arithmetic on integers → the fused score is an exact function
# of two small ints, so cross-engine hashing is tie-free by
# construction (the only doubles are two divisions and an add on
# identical operands).  Docs missing from one list contribute 0 from
# that list and carry rank 0 in the output (0 = "absent", never a
# valid 1-based rank).

RRF_K = 60
RRF_LIST_N = BM25_TOP_N  # lex list size == the oracle's LIMIT, by construction
HYBRID_TOP = 10
DENSE_QUERY_ID = 0


def _dense_scored(emb: DataFrame) -> DataFrame:
    """Corpus scored against the fixed dense query (vec_id =
    DENSE_QUERY_ID): (doc_id, cosine, e2), 6-dp rounded — ONE corpus
    scan with a broadcast 1-row query (q_knn_brute's shape), shared
    by the RRF dense list and the MMR candidate pool so the scoring
    contract (rounding, tie-break inputs) lives in one place."""
    q = emb.filter(F.col("vec_id") == DENSE_QUERY_ID).select(
        F.col("embedding").alias("e1")
    )
    corpus = emb.filter(F.col("vec_id") != DENSE_QUERY_ID).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e2")
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cosine("e1", "e2"), 6))
        .select("doc_id", "cosine", "e2")
    )


def _dense_top(emb: DataFrame, n: int) -> DataFrame:
    """The dense query's top-n by cosine, ties to the lower doc_id —
    the one ranking every single-query list here uses."""
    return top_k(_dense_scored(emb), n, part=[], tie="doc_id")


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hybrid retrieval: BM25 top-20 (lexical) fused with brute
    cosine top-20 for the dense query via reciprocal rank fusion.
    vec_id ↔ doc_id is the corpus linkage (TESTDATA.md: embeddings are
    the documents' vectors)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = (
        bm25_search(docs, BM25_QUERY_TERMS, top_n=RRF_LIST_N)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )
    dense = _dense_top(emb, RRF_LIST_N).select(
        "doc_id", F.col("rank").alias("dense_rank")
    )

    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
        )
        .withColumn(
            "rrf_score",
            F.round(
                F.when(
                    F.col("lex_rank") > 0,
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")),
                ).otherwise(F.lit(0.0))
                + F.when(
                    F.col("dense_rank") > 0,
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("hybrid_rank", F.row_number().over(wf))
        .filter(F.col("hybrid_rank") <= HYBRID_TOP)
        .select("doc_id", "lex_rank", "dense_rank", "rrf_score", "hybrid_rank")
    )


def _sql_dense_top(out: str, n: int, cols: str) -> str:
    """DuckDB twin of ``_dense_top``: CTE ``out`` keeping ``cols`` of
    (doc_id, cosine, e, rank)."""
    return sql_top_k(out, f"""(
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id, {_SQL_QC_COS} AS cosine,
      CAST(c.embedding AS DOUBLE[]) AS e
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id = {DENSE_QUERY_ID}
  )""", n, cols, tie="doc_id")


HYBRID_SEARCH_RRF_SQL = f"""
WITH lex0 AS MATERIALIZED (
  SELECT * FROM ({BM25_SEARCH_SQL})
),
lex AS MATERIALIZED (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lex0
),
{_sql_dense_top("dense", RRF_LIST_N, "doc_id, rank AS dense_rank")},
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
    COALESCE(l.lex_rank, 0) AS lex_rank,
    COALESCE(d.dense_rank, 0) AS dense_rank,
    ROUND(
      CASE WHEN l.lex_rank IS NOT NULL
           THEN 1.0 / ({RRF_K} + l.lex_rank) ELSE 0.0 END
      + CASE WHEN d.dense_rank IS NOT NULL
             THEN 1.0 / ({RRF_K} + d.dense_rank) ELSE 0.0 END, 6)
      AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON d.doc_id = l.doc_id
)
SELECT doc_id, lex_rank, dense_rank, rrf_score,
  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS hybrid_rank
FROM fused
QUALIFY hybrid_rank <= {HYBRID_TOP}
"""


# --------------------------------------------- MMR diversity re-rank
#
# Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
# greedily build the result list by picking, each round, the candidate
# maximizing λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s).  The
# candidate set is the dense top-MMR_CAND (distributed, one corpus
# scan); the greedy loop is a head operator over that bounded frame:
# the (MMR_CAND relevances + MMR_CAND² pairwise sims) integers are
# fetched once — bounded metadata, the same class as the k×dim
# centroid collects — and the selection runs in pure INTEGER
# arithmetic.  All scores are exact integers in 1e-7 units (λ=0.7 ⇒
# score_e7 = 7·rel_e6 − 3·maxsim_e6 over the 6-dp-rounded cosines), so
# selection order and output values are tie-free and bit-identical
# across engines by construction.  (A fully-lazy chained-DataFrame
# variant was measured first: the recursive selected→pick references
# grow the logical plan ~3^rounds and Catalyst+AQE re-analysis
# dominates — minutes of planning for 5 rounds over 10 rows.)

MMR_CAND = 10
MMR_SELECT = 5
MMR_LAMBDA_NUM = 7  # λ = 0.7 in tenths: score_e7 = 7·rel_e6 − 3·sim_e6


def _mmr_candidates(emb: DataFrame) -> DataFrame:
    """Dense top-MMR_CAND for the fixed query: (doc_id, rel, rel_e6,
    e2).  Cached — ten rows feed every greedy round; without the cache
    the lazy chain would re-run the corpus scan per round."""
    return (
        _dense_top(emb, MMR_CAND)
        .select(
            "doc_id",
            F.col("cosine").alias("rel"),
            F.round(F.col("cosine") * 1e6).cast("long").alias("rel_e6"),
            "e2",
        )
        .cache()
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-5 over the dense top-10 candidates.  Output: selection
    order, the relevance and worst-case redundancy that drove each
    pick, and the exact integer MMR score."""
    emb = load_table(spark, sf_dir, "embeddings")
    cands = _mmr_candidates(emb)

    a = cands.select(
        F.col("doc_id").alias("a"), F.col("e2").alias("e1")
    )
    b = cands.select(F.col("doc_id").alias("b"), "e2")
    sims = (
        a.join(b, F.col("a") != F.col("b"))
        .withColumn(
            "sim_e6",
            F.round(F.round(cosine("e1", "e2"), 6) * 1e6).cast("long"),
        )
        .select("a", "b", "sim_e6")
    )

    # bounded-metadata fetch: MMR_CAND rows + MMR_CAND·(MMR_CAND−1) sims
    cand_rows = cands.select("doc_id", "rel", "rel_e6").collect()
    rel_e6 = {r.doc_id: r.rel_e6 for r in cand_rows}
    rel = {r.doc_id: r.rel for r in cand_rows}
    sim_e6 = {(r.a, r.b): r.sim_e6 for r in sims.collect()}

    lam, mu = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    first = max(rel_e6, key=lambda d: (rel_e6[d], -d))
    picked = [(first, 0)]  # (doc_id, max_sim_prev_e6)
    while len(picked) < MMR_SELECT:
        chosen = {d for d, _ in picked}
        best = None
        for d in rel_e6:
            if d in chosen:
                continue
            ms = max(sim_e6[(d, p)] for p, _ in picked)
            score = lam * rel_e6[d] - mu * ms
            key = (score, -d)
            if best is None or key > best[0]:
                best = (key, d, ms)
        picked.append((best[1], best[2]))

    rows = [
        (int(d), i + 1, float(rel[d]), int(ms),
         int(lam * rel_e6[d] - mu * ms))
        for i, (d, ms) in enumerate(picked)
    ]
    cands.unpersist()
    return spark.createDataFrame(
        rows,
        "doc_id long, mmr_rank int, relevance double,"
        " max_sim_prev_e6 long, mmr_score_e7 long",
    )


def _mmr_sql() -> str:
    import re as _re

    ctes = [
        _sql_dense_top(
            "cand",
            MMR_CAND,
            "doc_id, cosine AS rel,"
            " CAST(ROUND(cosine * 1000000, 0) AS BIGINT) AS rel_e6, e",
        ),
        f"""sims AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
    CAST(ROUND(ROUND({sql_cosine("x.e", "y.e")}, 6) * 1000000, 0) AS BIGINT)
      AS sim_e6
  FROM cand x JOIN cand y ON y.doc_id <> x.doc_id
)""",
        """sel1 AS (
  SELECT doc_id, 1 AS mmr_rank FROM cand
  ORDER BY rel_e6 DESC, doc_id ASC LIMIT 1
)""",
    ]
    prev = "sel1"
    lam, mu = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    for r in range(2, MMR_SELECT + 1):
        ctes.append(f"""pick{r} AS (
  SELECT doc_id, {r} AS mmr_rank FROM (
    SELECT c.doc_id, {lam} * c.rel_e6 - {mu} * MAX(s.sim_e6) AS score_e7
    FROM cand c
    JOIN sims s ON s.a = c.doc_id
    JOIN {prev} p ON p.doc_id = s.b
    WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
    GROUP BY c.doc_id, c.rel_e6
  ) ORDER BY score_e7 DESC, doc_id ASC LIMIT 1
)""")
        ctes.append(
            f"sel{r} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT * FROM pick{r})"
        )
        prev = f"sel{r}"
    ctes.append(f"""red AS (
  SELECT s1.doc_id, s1.mmr_rank, MAX(s.sim_e6) AS maxsim_e6
  FROM {prev} s1
  JOIN sims s ON s.a = s1.doc_id
  JOIN {prev} s2 ON s2.doc_id = s.b AND s2.mmr_rank < s1.mmr_rank
  GROUP BY s1.doc_id, s1.mmr_rank
)""")
    sql = (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s.doc_id, s.mmr_rank, c.rel AS relevance,
  COALESCE(r.maxsim_e6, 0) AS max_sim_prev_e6,
  {lam} * c.rel_e6 - {mu} * COALESCE(r.maxsim_e6, 0) AS mmr_score_e7
FROM {prev} s
JOIN cand c ON c.doc_id = s.doc_id
LEFT JOIN red r ON r.doc_id = s.doc_id"""
    )
    return _re.sub(
        r"\b(cand|sims|sel\d|pick\d|red) AS \(",
        r"\1 AS MATERIALIZED (",
        sql,
    )


MMR_RERANK_SQL = _mmr_sql()


# ----------------------------------------------------- NDCG@k eval
#
# Rank-discounted retrieval quality, completing the eval suite:
# recall@k (q_ann_recall_eval) says WHETHER the true neighbors are
# found; NDCG@k (Järvelin & Kekäläinen, TOIS 2002) says whether they
# are found IN THE RIGHT ORDER.  The evaluated system is the same
# label-bucket IVF ranking the recall eval audits; ground truth is the
# exact brute-force top-NDCG_K with graded relevance
# rel = NDCG_K + 1 − exact_rank (integers 10..1, 0 for misses).
#
# Determinism: every gain term rel / log2(rank+1) is rounded to 6 dp
# BEFORE the per-query sum, and the sums run over
# DECIMAL(38,18)-cast terms (exact, order-free — the same trick as
# the k-means centroid means), so DCG/IDCG/NDCG are bit-stable across
# engines despite float log2.  Scale shape: both rankings are one
# corpus scan with broadcast queries; the eval joins touch only
# N_QUERIES·NDCG_K rows of rank metadata.

NDCG_K = 10


def _ranked_lists(emb: DataFrame, bucketed: bool) -> DataFrame:
    """Per-query top-NDCG_K ranking: exact brute (bucketed=False) or
    label-bucket IVF (bucketed=True) — the two sides of the eval.
    Deliberately NOT folded into _dense_scored: this is the
    multi-query variant (per-query rank partitions, label-bucket
    candidate filter) with its own output contract."""
    queries, corpus = split_queries(
        emb,
        (F.col("label").alias("qbucket"),),
        (F.col("label").alias("bucket"),),
    )
    if bucketed:
        joined = corpus.join(
            F.broadcast(queries), F.col("bucket") == F.col("qbucket")
        )
    else:
        joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.filter(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn("cosine", F.round(cosine("e1", "e2"), 6))
    return top_k(scored, NDCG_K).select("query_id", "neighbor_id", "rank")


def _decimal_sum_6dp(col):
    """Order-free 6-dp sum: round each term, exact DECIMAL add."""
    return F.round(
        F.sum(F.round(col, 6).cast("decimal(38,18)")).cast("double"), 6
    )


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the label-bucket IVF ranking vs exact brute truth,
    one row per query: (query_id, dcg, idcg, ndcg)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: both the DCG join and the IDCG aggregate consume the
    # truth ranking — without this, each branch re-runs the brute
    # corpus scan.  N_QUERIES·NDCG_K rows: bounded metadata.
    truth = (
        _ranked_lists(emb, bucketed=False)
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(NDCG_K + 1) - F.col("rank")).alias("rel"),
            F.col("rank").alias("t_rank"),
        )
        .persist()
    )
    approx = _ranked_lists(emb, bucketed=True).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("cand_id"),
        F.col("rank").alias("a_rank"),
    )
    gain = F.coalesce(F.col("rel"), F.lit(0)).cast("double") / F.log2(
        F.col("a_rank") + F.lit(1)
    )
    dcg = (
        approx.join(
            truth,
            (F.col("a_query_id") == F.col("query_id"))
            & (F.col("cand_id") == F.col("neighbor_id")),
            "left",
        )
        .groupBy(F.col("a_query_id").alias("query_id"))
        .agg(_decimal_sum_6dp(gain).alias("dcg"))
    )
    igain = F.col("rel").cast("double") / F.log2(F.col("t_rank") + F.lit(1))
    idcg = truth.groupBy("query_id").agg(
        _decimal_sum_6dp(igain).alias("idcg")
    )
    # anchor on IDCG (every query has truth rows): a query whose
    # bucketed ranking is EMPTY (singleton label) must surface as
    # ndcg = 0, not silently vanish and inflate the average
    try:
        # one row per query: materialize it while the truth ranking
        # still stands, so the returned frame outlives the release
        return (
            idcg.join(F.broadcast(dcg), "query_id", "left")
            .withColumn("dcg", F.coalesce(F.col("dcg"), F.lit(0.0)))
            .withColumn("ndcg", F.round(F.col("dcg") / F.col("idcg"), 6))
            .select("query_id", "dcg", "idcg", "ndcg")
            .localCheckpoint(eager=True)
        )
    finally:
        truth.unpersist()


NDCG_EVAL_SQL = f"""
WITH {_sql_qc_top(
    "truth",
    f"query_id, neighbor_id, {NDCG_K} + 1 - rank AS rel, rank AS t_rank",
    NDCG_K,
)},
{_sql_qc_top(
    "approx",
    "query_id AS a_query_id, neighbor_id AS cand_id, rank AS a_rank",
    NDCG_K,
    "AND c.label = q.label",
)},
dcg AS (
  SELECT a.a_query_id AS query_id,
    ROUND(CAST(SUM(CAST(ROUND(
      CAST(COALESCE(t.rel, 0) AS DOUBLE) / log2(a.a_rank + 1), 6)
      AS DECIMAL(38,18))) AS DOUBLE), 6) AS dcg
  FROM approx a
  LEFT JOIN truth t
    ON t.query_id = a.a_query_id AND t.neighbor_id = a.cand_id
  GROUP BY 1
),
idcg AS (
  SELECT query_id,
    ROUND(CAST(SUM(CAST(ROUND(
      CAST(rel AS DOUBLE) / log2(t_rank + 1), 6)
      AS DECIMAL(38,18))) AS DOUBLE), 6) AS idcg
  FROM truth GROUP BY 1
)
SELECT i.query_id, COALESCE(d.dcg, 0.0) AS dcg, i.idcg,
       ROUND(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg
FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
"""
