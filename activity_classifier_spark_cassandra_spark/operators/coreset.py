"""Coreset selection: greedy k-center data pruning over embeddings.

Training-data pruning at 100 TB routinely keeps a geometric COVER of
the embedding space rather than a uniform sample: greedy k-center
(Gonzalez 1985, the 2-approximation; used for data selection as the
"coreset" approach of Sener & Savarese, ICLR 2018) picks, one at a
time, the vector FARTHEST from everything already selected.  The
selected set maximizes coverage; the per-vector distance to its
nearest center is the pruning signal (drop the closest-covered
points first) and max(d2_min) is the cover radius the method bounds.

Scale shape: the greedy loop is inherently k sequential passes —
each round is ONE full scan folding the newest center into a carried
min-d2 column (no exchange), checkpointed, with the round's argmax
observed on that same job (a per-partition max merged on the driver)
— one job per round.  Work is N·k d2 folds total; at production k the per-row fold
becomes a per-Arrow-batch BLAS matmul exactly like
``similarity.blas_assign`` (the q_semdedup_blas precedent applies
verbatim: d2 is 6-dp rounded, selections are integer ids).

Determinism: the seed is the lowest vec_id; every argmax ranks by
(ROUND(min_d2, 6) DESC, vec_id ASC); the final assignment ranks by
(d2 ASC, selection-round ASC).  The DuckDB oracle replays the greedy
loop as chained MATERIALIZED CTEs (one cand/pick/cumulative-set trio
per round) — the trained-IVF replay pattern.

Reference analogue: none (`activity-classifier` has no data-pruning
surface) — LLM-data-pipeline extension, SURVEY.md §2.12 family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from .iterate import RoundLoop
from .similarity import _D2_FOLD, _sql_d2

K_CENTERS = 16


def _centers_literal(centers: list[tuple[int, int, list[float]]]) -> str:
    """array(named_struct('cid', .., 'cvid', .., 'c', array(..)))
    — full-precision doubles; repr() round-trips exactly through the
    SQL parser, so the literal equals the corpus value bit-for-bit."""
    parts = []
    for cid, cvid, c in centers:
        arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in c)
        parts.append(
            f"named_struct('cid', CAST({cid} AS INT),"
            f" 'cvid', CAST({cvid} AS BIGINT), 'c', array({arr}))"
        )
    return "array(" + ", ".join(parts) + ")"


def kcenter_select(
    emb: DataFrame, k: int = K_CENTERS
) -> list[tuple[int, int, list[float]]]:
    """Greedy k-center selection; returns [(round, vec_id, vector)].
    Round 0 is the lowest vec_id; round i maximizes ROUND(min-d2, 6)
    to rounds 0..i-1 (ties to the lowest vec_id).

    Round i folds ONLY the center round i-1 added into a carried
    running-min column: ``least(md2, d2_new)`` over the previous
    round's materialized state.  Every per-center d2 is 6-dp rounded
    BEFORE any min (same _D2_FOLD), and float min is exact and
    order-free, so the carried value is bit-identical to the
    array_min over all i centers the previous shape recomputed from
    scratch — N·k d2 folds total instead of N·k²/2 (the folds, not
    the k driver fetches, dominate: the interpreted HOF is the
    per-row constant).  The state is localCheckpoint-ed per round so
    round i actually reads round i-1's column instead of replaying
    the whole expression lineage.  The round's argmax — the next
    center — is observed on that same checkpoint job: max over
    struct(md2, -vec_id, embedding) is exactly the row an
    ``orderBy(md2 DESC, vec_id ASC).limit(1)`` fetch would return
    (structs compare field by field, null and NaN ordered as in the
    sort), with no second job per round."""
    corpus = emb.select("vec_id", "embedding")
    first = corpus.orderBy("vec_id").limit(1).collect()[0]
    centers = [(0, int(first.vec_id), [float(x) for x in first.embedding])]
    state = corpus
    with RoundLoop("kcenter") as loop:
        for i in loop.rounds(range(1, k)):
            _, _, cvec = centers[-1]
            arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in cvec)
            d2_new = F.expr(
                _D2_FOLD.format(x="embedding", c=f"array({arr})")
            )
            md2 = d2_new if i == 1 else F.least(F.col("md2"), d2_new)
            state = loop.checkpoint(
                state.withColumn("md2", md2),
                far=F.max(
                    F.struct(
                        "md2", (-F.col("vec_id")).alias("nv"), "embedding"
                    )
                ),
            )
            far = loop.stats["far"]
            centers.append(
                (i, -int(far.nv), [float(x) for x in far.embedding])
            )
    return centers


def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector coreset coverage: (vec_id, center_id, d2_min,
    is_center) — center_id is the nearest selected vector's vec_id
    (ties broken by earlier selection round), d2_min the pruning
    signal, is_center membership in the selected set."""
    emb = load_table(spark, sf_dir, "embeddings")
    centers = kcenter_select(emb)
    lit = _centers_literal(centers)
    d2 = _D2_FOLD.format(x="embedding", c="c.c")
    best = F.expr(
        f"array_min(transform({lit},"
        f" c -> named_struct('d2', {d2}, 'cid', c.cid, 'cvid', c.cvid)))"
    )
    sel = F.array(*[F.lit(cvid) for _, cvid, _ in centers])
    return (
        emb.select("vec_id", "embedding")
        .withColumn("_b", best)
        .select(
            "vec_id",
            F.col("_b.cvid").alias("center_id"),
            F.col("_b.d2").alias("d2_min"),
            F.array_contains(sel, F.col("vec_id")).alias("is_center"),
        )
    )


def _coreset_sql() -> str:
    d2 = _sql_d2("v.e", "c.e")
    ctes = [
        "corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)",
        "cum0 AS (SELECT 0 AS cid, vec_id, e FROM corpus"
        " ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, K_CENTERS):
        ctes.append(f"""md{i} AS (
  SELECT v.vec_id, v.e, MIN({d2}) AS md2
  FROM corpus v CROSS JOIN cum{i - 1} c
  GROUP BY v.vec_id, v.e
)""")
        ctes.append(f"""cum{i} AS (
  SELECT * FROM cum{i - 1}
  UNION ALL
  SELECT {i} AS cid, vec_id, e FROM (
    SELECT vec_id, e FROM md{i} ORDER BY md2 DESC, vec_id ASC LIMIT 1
  )
)""")
    final = f"cum{K_CENTERS - 1}"
    sql = (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a.vec_id, a.cvid AS center_id, a.d2 AS d2_min,
       (s.vec_id IS NOT NULL) AS is_center
FROM (
  SELECT v.vec_id, c.vec_id AS cvid, {d2} AS d2,
    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      ORDER BY {d2} ASC, c.cid ASC) AS rn
  FROM corpus v CROSS JOIN {final} c
) a
LEFT JOIN (SELECT DISTINCT vec_id FROM {final}) s
  ON s.vec_id = a.vec_id
WHERE a.rn = 1"""
    )
    import re as _re

    return _re.sub(
        r"\b(corpus|cum\d+|md\d+) AS \(",
        r"\1 AS MATERIALIZED (",
        sql,
    )


CORESET_KCENTER_SQL = _coreset_sql()
