"""Margin-based bitext mining (parallel-corpus pair extraction).

The CCMatrix/WikiMatrix recipe (Artetxe & Schwenk, "Margin-based
Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
2019; Schwenk et al. 2021): for a source sentence x and target
candidate y, plain cosine is miscalibrated across embedding-space
hubs, so the mining score is the RATIO margin

    margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

where avgNN_k(x) is the mean cosine of x's k nearest neighbors in the
OTHER language's corpus (and symmetrically for y).  A pair is mined
when the forward-best candidate clears a margin threshold — hub
sentences whose neighborhood is uniformly close get discounted.

Sides are synthesized deterministically from the embeddings table
(vec_id % 2: even = source language, odd = target) — the same
convention the ANN family uses for its query sets.  The registry
query mines an ARRIVING BATCH of BT_BATCH source sentences against
the full target side: the incremental shape of a production mining
pipeline (a full-corpus run maps this pass over source partitions and
swaps the brute forward scan for the IVF/graph candidates already in
``similarity.py`` / ``graph_ann.py`` — candidate generation is the
only corpus-scale stage).

Scale shape: the forward scan is |batch| x |tgt| with the batch
BROADCAST (the documented bounded-audit shape of q_knn_brute and the
recall evals); the backward pass scores only the <= |batch| distinct
forward-best candidates against the source side.  All margins are
exact-integer arithmetic: cosines land as FLOOR(cos * 1e6) BIGINTs,
the k-NN sums stay integral, and the final margin is one
integer/integer double division rounded to 6 dp — order-free and
engine-stable (the 1e6-scaled-LONG pattern used across the repo).

Reference parity: the reference engine has no mining stage; this is
LLM-data-pipeline extension surface (SURVEY.md §2.12) alongside the
dedup/ANN families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .similarity import cosine, sql_cosine, sql_top_k, top_k

BT_BATCH = 25    # arriving source sentences per mining pass
BT_K = 4         # neighbors in the margin denominators
BT_THRESHOLD = 1.06  # ratio-margin mining threshold


def _cos6() -> Column:
    """Cosine FLOORed to a 1e6-scaled LONG: all ranking and margin
    arithmetic is then exact integer work; both engines floor the same
    double."""
    return F.floor(cosine("e1", "e2") * 1000000).cast("bigint")


# per-row vector norm as a JVM fold: hoisted to one fold per side row
# (pair-INDEPENDENT), so pair scoring divides by precomputed norms
_NORM = (
    "sqrt(aggregate({e}, CAST(0.0 AS DOUBLE),"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def _sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return src, tgt


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    batch_ids_below: int = 2 * BT_BATCH,
) -> DataFrame:
    """(src_id, tgt_id, cosine, margin, mined): forward-best target
    per batch source sentence with its ratio margin."""
    batch = src.filter(F.col("vec_id") < batch_ids_below).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("e1")
    )
    # forward: batch x tgt, batch broadcast — the bounded-audit scan
    fw = (
        tgt.select(F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("e2"))
        .join(F.broadcast(batch))
        .select("src_id", "tgt_id", _cos6().alias("c6"))
    )
    ranked = top_k(fw, BT_K, part="src_id", score="c6", tie="tgt_id")
    nn_x = ranked.groupBy("src_id").agg(F.sum("c6").alias("sum_x"))
    best = ranked.filter(F.col("rank") == 1).select("src_id", "tgt_id", "c6")
    # backward: the <= |batch| distinct forward-best candidates vs the
    # full source side (x itself included, per the paper)
    ys = (
        best.select("tgt_id").distinct()
        .join(
            tgt.select(F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("e1")),
            "tgt_id",
        )
    )
    bw = (
        src.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("e2"))
        .join(F.broadcast(ys))
        .select("tgt_id", "cand_id", _cos6().alias("c6b"))
    )
    nn_y = (
        top_k(bw, BT_K, part="tgt_id", score="c6b", tie="cand_id")
        .groupBy("tgt_id")
        .agg(F.sum("c6b").alias("sum_y"))
    )
    denom = F.col("sum_x") + F.col("sum_y")
    margin = F.when(
        denom > 0,
        F.round(F.lit(2 * BT_K) * F.col("c6") / denom, 6),
    )
    return (
        best.join(nn_x, "src_id")
        .join(nn_y, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round(F.col("c6") / F.lit(1e6), 6).alias("cosine"),
            margin.alias("margin"),
            (F.coalesce(margin, F.lit(0.0)) >= BT_THRESHOLD).alias("mined"),
        )
    )


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine the arriving source batch against the target side."""
    src, tgt = _sides(spark, sf_dir)
    return mine_bitext(src, tgt)


# ------------------------------------------------- DuckDB oracle

def _sql_c6(a: str, b: str) -> str:
    return f"CAST(FLOOR({sql_cosine(a, b)} * 1000000) AS BIGINT)"


BITEXT_MINE_SQL = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
src AS (SELECT * FROM emb WHERE vec_id % 2 = 0),
tgt AS (SELECT * FROM emb WHERE vec_id % 2 = 1),
batch AS (SELECT vec_id AS src_id, e AS e1 FROM src
          WHERE vec_id < {2 * BT_BATCH}),
fwc AS (
  SELECT b.src_id, t.vec_id AS tgt_id, {_sql_c6("b.e1", "t.e")} AS c6
  FROM batch b, tgt t
),
{sql_top_k("fw", "fwc", BT_K, part="src_id", score="c6", tie="tgt_id")},
nn_x AS (SELECT src_id, SUM(c6) AS sum_x FROM fw GROUP BY src_id),
best AS (SELECT src_id, tgt_id, c6 FROM fw WHERE rank = 1),
ys AS (
  SELECT DISTINCT b.tgt_id, t.e AS e1 FROM best b
  JOIN tgt t ON t.vec_id = b.tgt_id
),
bwc AS (
  SELECT y.tgt_id, s.vec_id AS cand_id, {_sql_c6("y.e1", "s.e")} AS c6b
  FROM ys y, src s
),
{sql_top_k("bw", "bwc", BT_K, part="tgt_id", score="c6b", tie="cand_id")},
nn_y AS (SELECT tgt_id, SUM(c6b) AS sum_y FROM bw GROUP BY tgt_id)
SELECT b.src_id, b.tgt_id,
  ROUND(b.c6 / 1000000.0, 6) AS cosine,
  CASE WHEN x.sum_x + y.sum_y > 0
    THEN ROUND({2 * BT_K} * b.c6 / (x.sum_x + y.sum_y), 6) END AS margin,
  COALESCE(CASE WHEN x.sum_x + y.sum_y > 0
    THEN ROUND({2 * BT_K} * b.c6 / (x.sum_x + y.sum_y), 6) END, 0.0)
    >= {BT_THRESHOLD} AS mined
FROM best b
JOIN nn_x x USING (src_id)
JOIN nn_y y USING (tgt_id)
"""


# ------------------------------------------- full-corpus mining
#
# The shape CCMatrix actually ships (Schwenk et al. 2021 §3.2): EVERY
# source sentence is mined, and the forward/backward neighbor scans
# are candidate-bounded by a coarse quantizer instead of brute
# |src| x |tgt|.  One trained IVF index per side (the same
# deterministic Lloyd's the trained-IVF family uses), each probe
# routed to its BT_NPROBE nearest cells, scoring only members of the
# probed cells.  Candidate volume is |side| * nprobe * avg_cell — at
# production scale the cell count grows ~sqrt(N) (pass ``cells``), so
# the scan stays near-linear; the registry pins a small fixed cell
# count so the DuckDB oracle can replay the training as chained CTEs
# (the q_knn_ivf_trained pattern).
#
# Scale shape: NOTHING corpus-sized broadcasts.  The probe frame is
# corpus-scale, so the probes->cells join is a plain shuffle join on
# the cell id (AQE splits hot cells; production cell counts keep
# parallelism); margins stay exact-integer 1e6-scaled LONG sums.

BT_CELLS = 8     # cells per side's coarse quantizer (registry scale;
                 # production passes cells ~ sqrt(N))
BT_NPROBE = 2    # probed cells per query


def _blas_route(
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    qid: str,
) -> DataFrame:
    """(qid, bucket, e1) x nprobe per query via one BLAS matmul per
    Arrow batch — the production routing for large cell counts, where
    the interpreted d2 fold (|queries| x cells x dim) dominates.
    Assignment-identical to the oracle's probe routing: d2 rounded
    half-up to 6 dp (``blas_assign``'s rounding argument), ties to the
    lowest cluster (stable argsort over k-ordered columns)."""
    import numpy as np
    import pandas as pd

    C = np.array([c for _, c in sorted(cents)], dtype=np.float64)
    ks = np.array([k for k, _ in sorted(cents)], dtype=np.int32)
    cn = (C * C).sum(axis=1)

    # A degenerate/tiny corpus can train fewer centroids than nprobe;
    # route to every cell that exists instead of raising a pandas
    # length mismatch inside the Arrow stage (fewer distinct probe
    # buckets per query).
    p = min(nprobe, len(C))

    def batches(it):
        for pdf in it:
            if not len(pdf):  # np.stack raises on an empty batch
                continue
            E = np.stack(pdf["e1"].to_numpy()).astype(np.float64)
            d2 = (
                (E * E).sum(axis=1)[:, None]
                - 2.0 * (E @ C.T)
                + cn[None, :]
            )
            d2 = np.floor(d2 * 1e6 + 0.5) / 1e6
            top = np.argsort(d2, axis=1, kind="stable")[:, :p]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    qid: pdf[qid].to_numpy().repeat(p),
                    "bucket": ks[top].reshape(-1),
                    "e1": [
                        pdf["e1"].iloc[i] for i in range(n) for _ in range(p)
                    ],
                }
            )

    elem = dict(queries.dtypes)["e1"]
    return queries.select(qid, "e1").mapInPandas(
        batches, schema=f"{qid} long, bucket int, e1 {elem}"
    )


_QBLOCK = 1024  # probe rows scored per accumulation block


def _blas_cell_scores(
    probes: DataFrame, corpus: DataFrame, qid: str, nid: str
) -> DataFrame:
    """Cell-local pair scoring: cogroup (qid, e1, n1) probes with
    (nid, e2, n2) members on ``bucket`` and emit every (qid, nid, c6)
    pair — the Arrow-matmul shape of the candidate scan.

    Why cogroup and not a pair join: the joined pair frame ships BOTH
    vectors per pair through Arrow (|pairs| ~ |side|·nprobe·avg_cell
    rows x ~1 KB — tens of GB at the 100x probe; measured SLOWER than
    the interpreted fold it replaced).  Cogrouping ships each vector
    ONCE per cell and materializes only the thin (qid, nid, c6) rows.

    Scores match the oracle's FLOOR(cos * 1e6) bit for bit because
    the pair-score matrix is accumulated dimension-at-a-time
    (``acc += Q[:, d, None] * M[None, :, d]`` — one IEEE double
    multiply then one add per step, a sequential dot product's
    left-to-right order), NOT a BLAS ``@``,
    whose unspecified summation order can differ in the last ulp and
    flip a FLOOR(x·1e6) boundary.  Division by the JVM-computed norm
    product, the 1e6 scale, and the floor are single IEEE ops in both
    engines.  Probe rows are processed in ``_QBLOCK`` chunks so the
    accumulator stays cache-sized regardless of cell skew."""
    import numpy as np
    import pandas as pd

    def score(probes_pdf: pd.DataFrame, members_pdf: pd.DataFrame):
        if not len(probes_pdf) or not len(members_pdf):
            return pd.DataFrame({qid: [], nid: [], "c6": []})
        M = np.stack(members_pdf["e2"].to_numpy()).astype(np.float64)
        n2 = members_pdf["n2"].to_numpy()
        nids = members_pdf[nid].to_numpy()
        out = []
        for lo in range(0, len(probes_pdf), _QBLOCK):
            blk = probes_pdf.iloc[lo : lo + _QBLOCK]
            Q = np.stack(blk["e1"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(Q), len(M)), dtype=np.float64)
            for d in range(Q.shape[1]):
                acc += Q[:, d, None] * M[None, :, d]
            denom = blk["n1"].to_numpy()[:, None] * n2[None, :]
            # denom == 0 (zero-norm embedding): Spark's double
            # divide-by-zero yields NULL; mirror that instead of
            # letting floor(inf/nan) cast to an undefined int64.
            zero = denom == 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                c6 = np.floor(acc / denom * 1e6)
            flat = np.where(zero, 0.0, c6).reshape(-1).astype(np.int64)
            c6_col = (
                pd.Series(flat).mask(zero.reshape(-1)).astype("Int64")
                if zero.any()
                else pd.Series(flat)
            )
            out.append(
                pd.DataFrame(
                    {
                        qid: np.repeat(blk[qid].to_numpy(), len(M)),
                        nid: np.tile(nids, len(Q)),
                        "c6": c6_col,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        probes.groupBy("bucket")
        .cogroup(corpus.groupBy("bucket"))
        .applyInPandas(score, schema=f"{qid} long, {nid} long, c6 long")
    )


def _ivf_topk_c6(
    queries: DataFrame,
    side: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int,
    nprobe: int,
    qid: str,
    nid: str,
) -> DataFrame:
    """Candidate-bounded top-k by 1e6-floored cosine: route each
    (qid, e1) query row to its ``nprobe`` nearest cells of the side's
    trained quantizer and score only members of those cells.  Returns
    (qid, nid, c6, rank) with rank <= k.  Corpus assignment, query routing
    and cell-local scoring run as Arrow-vectorized stages; nothing
    broadcasts — the query frame here is corpus-scale."""
    from .similarity import blas_assign

    corpus = blas_assign(side, cents, keep_embedding=True).select(
        F.col("vec_id").alias(nid),
        F.col("embedding").alias("e2"),
        F.expr(_NORM.format(e="embedding")).alias("n2"),
        F.col("cluster").alias("bucket"),
    )
    # n1 via the same JVM fold as n2 (numpy's SIMD sum could differ
    # in the last ulp — norms must stay bit-identical)
    probes = _blas_route(queries, cents, nprobe, qid).withColumn(
        "n1", F.expr(_NORM.format(e="e1"))
    )
    scored = _blas_cell_scores(probes, corpus, qid, nid)
    return top_k(scored, k, part=qid, score="c6", tie=nid)


def mine_bitext_corpus(
    src: DataFrame,
    tgt: DataFrame,
) -> DataFrame:
    """(src_id, tgt_id, cosine, margin, mined) for EVERY source
    sentence: forward-best target among the probed-cell candidates,
    ratio margin over the candidate-bounded k-NN sums of both sides.
    Training, assignment and routing are BLAS stages — interpreted
    folds would be |side| x cells x dim per pass, the binding cost
    once cells grows with N."""
    from .similarity import train_kmeans_centroids_blas

    cents_t = train_kmeans_centroids_blas(tgt, k=BT_CELLS)
    cents_s = train_kmeans_centroids_blas(src, k=BT_CELLS)

    sq = src.select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("e1")
    )
    fw = _ivf_topk_c6(sq, tgt, cents_t, BT_K, BT_NPROBE, "src_id", "tgt_id")
    nn_x = fw.groupBy("src_id").agg(F.sum("c6").alias("sum_x"))
    best = fw.filter(F.col("rank") == 1).select("src_id", "tgt_id", "c6")

    ys = best.select("tgt_id").distinct().join(
        tgt.select(
            F.col("vec_id").alias("tgt_id"),
            F.col("embedding").alias("e1"),
        ),
        "tgt_id",
    )
    bw = _ivf_topk_c6(
        ys, src, cents_s, BT_K, BT_NPROBE, "tgt_id", "cand_id"
    )
    nn_y = bw.groupBy("tgt_id").agg(F.sum("c6").alias("sum_y"))

    denom = F.col("sum_x") + F.col("sum_y")
    margin = F.when(
        denom > 0,
        F.round(F.lit(2 * BT_K) * F.col("c6") / denom, 6),
    )
    return (
        best.join(nn_x, "src_id")
        .join(nn_y, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round(F.col("c6") / F.lit(1e6), 6).alias("cosine"),
            margin.alias("margin"),
            (F.coalesce(margin, F.lit(0.0)) >= BT_THRESHOLD).alias("mined"),
        )
    )


def q_bitext_mine_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine the WHOLE source side against the target side with
    IVF-bounded candidate generation on both directions.

    Trainer, assignment, routing AND cell-cogrouped pair scoring run
    as Arrow stages (the 100x probe read 38.9s vs 100.1s for the
    interpreted per-pair dot fold this replaced); the DuckDB oracle
    ``BITEXT_MINE_CORPUS_SQL`` pins the output."""
    src, tgt = _sides(spark, sf_dir)
    return mine_bitext_corpus(src, tgt)


def _bitext_corpus_sql() -> str:
    """DuckDB replay: per-side Lloyd's training as chained CTEs (the
    q_knn_ivf_trained pattern), candidate-bounded forward/backward
    scans, identical integer margin arithmetic."""
    from .similarity import KMEANS_ITERS, _sql_assign, _sql_d2, _sql_update

    ctes = [
        "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)",
        "src AS (SELECT * FROM emb WHERE vec_id % 2 = 0)",
        "tgt AS (SELECT * FROM emb WHERE vec_id % 2 = 1)",
    ]
    for p, side in (("t", "tgt"), ("s", "src")):
        ctes.append(f"""{p}c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(e, x -> round(x, 6)) AS centroid
  FROM (SELECT vec_id, e FROM {side} ORDER BY vec_id LIMIT {BT_CELLS})
)""")
        for i in range(1, KMEANS_ITERS + 1):
            ctes.append(_sql_assign(f"{p}c{i - 1}", f"{p}a{i}", side))
            ctes.append(_sql_update(f"{p}a{i}", f"{p}c{i}"))
        ctes.append(
            _sql_assign(f"{p}c{KMEANS_ITERS}", f"{p}af", side)
        )
    tc, sc = f"tc{KMEANS_ITERS}", f"sc{KMEANS_ITERS}"
    ctes.append(sql_top_k("fprobe", f"""(
    SELECT v.vec_id AS src_id, v.e AS e1, c.cluster,
      {_sql_d2("v.e", "c.centroid")} AS d2
    FROM src v CROSS JOIN {tc} c
  )""", BT_NPROBE, "src_id, cluster, e1", "src_id", "d2", "cluster",
        ascending=True))
    ctes.append(sql_top_k("fw", f"""(
    SELECT p.src_id, t.vec_id AS tgt_id,
      {_sql_c6("p.e1", "t.e")} AS c6
    FROM fprobe p JOIN taf t ON t.cluster = p.cluster
  )""", BT_K, part="src_id", score="c6", tie="tgt_id"))
    ctes.append(
        "nn_x AS (SELECT src_id, SUM(c6) AS sum_x FROM fw GROUP BY src_id)"
    )
    ctes.append(
        "best AS (SELECT src_id, tgt_id, c6 FROM fw WHERE rank = 1)"
    )
    ctes.append(
        "ys AS (SELECT DISTINCT b.tgt_id, t.e AS e1 FROM best b"
        " JOIN tgt t ON t.vec_id = b.tgt_id)"
    )
    ctes.append(sql_top_k("bprobe", f"""(
    SELECT y.tgt_id, y.e1, c.cluster, {_sql_d2("y.e1", "c.centroid")} AS d2
    FROM ys y CROSS JOIN {sc} c
  )""", BT_NPROBE, "tgt_id, cluster, e1", "tgt_id", "d2", "cluster",
        ascending=True))
    ctes.append(sql_top_k("bw", f"""(
    SELECT p.tgt_id, s.vec_id AS cand_id,
      {_sql_c6("p.e1", "s.e")} AS c6b
    FROM bprobe p JOIN saf s ON s.cluster = p.cluster
  )""", BT_K, part="tgt_id", score="c6b", tie="cand_id"))
    ctes.append(
        "nn_y AS (SELECT tgt_id, SUM(c6b) AS sum_y FROM bw GROUP BY tgt_id)"
    )
    sql = (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT b.src_id, b.tgt_id,
  ROUND(b.c6 / 1000000.0, 6) AS cosine,
  CASE WHEN x.sum_x + y.sum_y > 0
    THEN ROUND({2 * BT_K} * b.c6 / (x.sum_x + y.sum_y), 6) END AS margin,
  COALESCE(CASE WHEN x.sum_x + y.sum_y > 0
    THEN ROUND({2 * BT_K} * b.c6 / (x.sum_x + y.sum_y), 6) END, 0.0)
    >= {BT_THRESHOLD} AS mined
FROM best b
JOIN nn_x x USING (src_id)
JOIN nn_y y USING (tgt_id)"""
    )
    import re as _re

    return _re.sub(
        r"\b(emb|src|tgt|[ts]c\d|[ts]a\d|[ts]af|fprobe|fw|nn_x|best|ys"
        r"|bprobe|bw|nn_y) AS \(",
        r"\1 AS MATERIALIZED (",
        sql,
    )


BITEXT_MINE_CORPUS_SQL = _bitext_corpus_sql()
