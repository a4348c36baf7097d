"""Johnson-Lindenstrauss random projection + distortion/recall audit.

The standard pre-ANN compression when embeddings are NOT trained
matryoshka-style (where prefix truncation works — see
``q_matryoshka_eval``): project dim-64 vectors to dim-16 with a dense
±1 sign matrix (Achlioptas 2001's database-friendly JL variant) and
audit BOTH of the quantities an operator needs before switching an
index to the compressed vectors:

* ``mean_rel_err`` / ``max_rel_err`` — the JL-lemma quantity: relative
  distortion of squared distances, |‖Sx−Sy‖²/d_out − ‖x−y‖²| / ‖x−y‖²,
  over the bounded query×corpus pair set;
* ``recall_at_5`` — whether top-5 neighbor identity survives.  On this
  synthetic corpus neighbor margins are ~2σ of the random-cosine
  spread, so recall reads LOW (~0.1 at d_out=16) while distortion sits
  right at the JL bound — exactly the "compression is lossy for THIS
  corpus, don't index the projected vectors" verdict the audit exists
  to produce (same honest-audit philosophy as ``q_graph_recall_eval``).

Exactness design (hash-exact oracle, not tolerance-gated): inputs are
quantized FIRST — xq = FLOOR(x·1e4 + 0.5) (identical IEEE ops both
engines, no ROUND half-mode ambiguity) — and the projection is an
exact int64 matmul against a ±1 matrix generated once in Python and
unrolled into the SQL as plain ±v[i] arithmetic.  |x| < 0.6 ⇒ every
intermediate (projected coords, squared distances, dot products) is
an exactly representable integer < 2⁵³; the only floating point is
the final ratio/cosine (correctly-rounded IEEE ops on identical
integers → identical bits), and the distortion MEAN routes through a
DECIMAL(38,18) sum so accumulation order cannot move it.

Sign matrix: bit 16 of h = (i·2654435761 + j·40503) mod 2³² — NOT the
parity bit: both multipliers are odd, so parity(h) = parity(i+j), a
checkerboard whose rows are all ±one vector (a RANK-1 "projection";
measured recall 0.0 before the fix).  Bit 16 mixes, giving a
full-rank matrix.

Scale shape: the projection is one Arrow mapInPandas stage (a single
int64 BLAS matmul per batch — exact); the audit is the documented
bounded |queries|×corpus scan.  At 100 TB the projection is the map
stage before any index build; 4× fewer bytes per vector is 4× less
shuffle in every downstream index.

Reference analogue: none — LLM-data-pipeline extension (SURVEY §2.12
similarity family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .graph_ann import _sql_btop
from .similarity import N_QUERIES, TOP_K, cosine, sql_cosine, sql_top_k, top_k

JL_DIM_IN = 64
JL_DIM_OUT = 16
JL_Q = 10_000  # input quantization: xq = floor(x * JL_Q + 0.5)

# ±1 signs from bit 16 of the multiplicative hash (see module doc).
_SIGNS = [
    [
        1
        if (((i * 2654435761 + j * 40503) % (1 << 32)) >> 16) & 1
        else -1
        for i in range(JL_DIM_IN)
    ]
    for j in range(JL_DIM_OUT)
]


def jl_project(emb: DataFrame) -> DataFrame:
    """(vec_id, xq, y): quantized input and its exact int64 JL
    projection — one Arrow mapInPandas stage, one matmul per batch."""
    import numpy as np
    import pandas as pd

    S = np.array(_SIGNS, dtype=np.int64)  # (out, in)

    def batches(it):
        for pdf in it:
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xq = np.floor(E * JL_Q + 0.5).astype(np.int64)
            Y = xq @ S.T  # exact: all values far inside 2^53
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "xq": list(xq.tolist()),
                    "y": list(Y.tolist()),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        batches, schema="vec_id long, xq array<long>, y array<long>"
    )


# exact integer squared distance between two long arrays
_D2_INT = (
    "aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)),"
    " CAST(0 AS BIGINT), (s, v) -> s + v)"
)


def q_jl_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_hits, recall_at_5, mean_rel_err, max_rel_err):
    projected-space brute top-5 vs full-space brute top-5, plus the
    JL distortion of squared distances over the query's corpus pairs
    (pairs with identical quantized vectors excluded — zero base)."""
    from .similarity import q_knn_brute

    emb = load_table(spark, sf_dir, "embeddings")
    proj = jl_project(emb).localCheckpoint(eager=True)

    q = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("xq").alias("xq1"),
        F.col("y").alias("y1"),
    )
    c = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("xq").alias("xq2"),
        F.col("y").alias("y2"),
    )
    pairs = (
        q.crossJoin(c)  # documented bounded brute scan: |queries| x N
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("d2q", F.expr(_D2_INT.format(a="xq1", b="xq2")))
        .withColumn("d2p", F.expr(_D2_INT.format(a="y1", b="y2")))
        .withColumn("cosine", F.round(cosine("y1", "y2"), 6))
        .localCheckpoint(eager=True)
    )

    jl_top = top_k(pairs, TOP_K).select("query_id", "neighbor_id")
    truth = (
        q_knn_brute(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    rec = (
        jl_top.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
        .withColumn(
            "recall_at_5",
            F.round(F.col("n_hits") / F.lit(float(TOP_K)), 6),
        )
    )

    rel = F.round(
        F.abs(
            F.col("d2p")
            / (F.lit(float(JL_DIM_OUT)) * F.col("d2q").cast("double"))
            - F.lit(1.0)
        ),
        9,
    )
    dist = (
        pairs.filter(F.col("d2q") > 0)
        .select("query_id", rel.alias("rel"))
        .groupBy("query_id")
        .agg(
            # decimal-exact sum: accumulation order cannot move the mean
            F.round(
                (
                    F.sum(F.col("rel").cast("decimal(38,18)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("mean_rel_err"),
            F.round(F.max("rel"), 6).alias("max_rel_err"),
        )
    )
    return rec.join(dist, "query_id")


def _jl_sql() -> str:
    # each projected dim unrolled to plain column arithmetic at
    # SQL-generation time (±v[i] chains): a matrix literal referenced
    # inside a per-element lambda re-constructs the 1024-int list per
    # element — measured 160s at sf0.01; the unrolled form is <1s.
    dims = ", ".join(
        "("
        + " ".join(
            ("+ " if s > 0 else "- ") + f"v[{i + 1}]"
            for i, s in enumerate(row)
        ).lstrip("+ ")
        + ")"
        for row in _SIGNS
    )
    d2 = (
        "list_reduce(list_transform(range(1, {n} + 1),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (s, v) -> s + v)"
    )
    d2q = d2.format(n=JL_DIM_IN, a="a.v", b="b.v")
    d2p = d2.format(n=JL_DIM_OUT, a="a.yq", b="b.yq")
    sql = f"""WITH corpus AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
xq AS MATERIALIZED (
  SELECT vec_id,
    list_transform(e, x -> CAST(FLOOR(x * {JL_Q} + 0.5) AS BIGINT)) AS v
  FROM corpus
),
proj AS MATERIALIZED (
  SELECT vec_id, v, [{dims}] AS yq,
         list_transform([{dims}], t -> CAST(t AS DOUBLE)) AS yd
  FROM xq
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {d2q} AS d2q, {d2p} AS d2p,
         ROUND({sql_cosine("a.yd", "b.yd")}, 6) AS cosine
  FROM proj a JOIN proj b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
),
{sql_top_k("jl_top", "pairs", TOP_K, "query_id, neighbor_id")},
{_sql_btop("corpus")},
rec AS MATERIALIZED (
  SELECT s.query_id,
    CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hits,
    ROUND(CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0
         END) AS BIGINT) / {float(TOP_K)}, 6) AS recall_at_5
  FROM jl_top s
  LEFT JOIN btop b
    ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
  GROUP BY s.query_id
),
dist AS MATERIALIZED (
  SELECT query_id,
    ROUND(CAST(SUM(CAST(rel AS DECIMAL(38,18))) AS DOUBLE)
          / COUNT(*), 6) AS mean_rel_err,
    ROUND(MAX(rel), 6) AS max_rel_err
  FROM (
    SELECT query_id,
      ROUND(ABS(d2p / ({float(JL_DIM_OUT)} * CAST(d2q AS DOUBLE))
                - 1.0), 9) AS rel
    FROM pairs WHERE d2q > 0
  )
  GROUP BY query_id
)
SELECT r.query_id, r.n_hits, r.recall_at_5,
       d.mean_rel_err, d.max_rel_err
FROM rec r JOIN dist d ON d.query_id = r.query_id"""
    return sql


JL_RECALL_EVAL_SQL = _jl_sql()
