"""Paragraph-unit exact deduplication with document reassembly.

RefinedWeb/Falcon-style line-level dedup, the unit between exact
whole-document dedup (operators/dedup.py::q_dedup_exact) and
exact-substring span cuts (operators/spans.py): the corpus is split
into PARAGRAPH units, every unit that already occurred anywhere else
in the corpus is dropped, and each document is reassembled from its
surviving units in order.  Whole-doc dedup misses boilerplate shared
across distinct pages; span dedup cuts arbitrary gram windows;
paragraph dedup removes the repeated UNIT exactly once per corpus
while keeping the first occurrence readable in place.

The synthetic documents table carries no newlines, so a "paragraph"
here is a fixed window of PARA_W consecutive whitespace-split words —
the same unit-ization trick as q_span_dedup's grams, but
non-overlapping and exhaustive (every word belongs to exactly one
unit, so reassembly is lossless for non-duplicated content).

First-occurrence policy: corpus-wide ordering by (doc_id, para_idx) —
deterministic, computed as ``groupBy(hash).agg(min(struct(doc_id,
para_idx)))`` + a join back, NOT a window.  The hash VALUES are
uniform, but their key FREQUENCIES follow the duplication skew — a
boilerplate paragraph repeated across 20% of a web corpus is one
md5 key carrying billions of rows.  A first-occurrence window over
that key is a single-partition sort no planner can split; the
aggregate form collapses every hot key map-side (partial min) to one
row per distinct paragraph, and the join back is AQE-skew-splittable.
Same result, same exchange count, no skew cliff.

Scale shape (100 TB): paragraph rows are corpus-scale, so the plan is
two content-carrying exchanges and no more — (1) hash-partition by
md5(paragraph) for the first-occurrence join (plus the metadata-thin
decisions frame), (2) re-partition by doc_id for ordered reassembly.
Nothing is collected, no self-join, no all-pairs; both exchanges are
linear in corpus bytes.  That is the same I/O floor as the published
line-dedup pipelines (a global group-by-content pass is unavoidable
for exact unit dedup).

Reference analogue: none (`activity-classifier` has no text surface)
— north-star LLM-pipeline extension alongside q_dedup_exact /
q_span_dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table

PARA_W = 25  # words per paragraph unit


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, n_paras, n_kept, text_dedup): corpus-wide exact
    paragraph dedup keeping first occurrence by (doc_id, para_idx)."""
    paras = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .withColumn(
            "np", F.expr(f"CAST(ceil(size(words) / {PARA_W}.0) AS INT)")
        )
        .withColumn(
            "paras",
            F.expr(
                f"transform(sequence(0, np - 1),"
                f" i -> array_join(slice(words, i * {PARA_W} + 1, {PARA_W}),"
                " ' '))"
            ),
        )
        .select(
            "doc_id",
            F.posexplode("paras").alias("para_idx", "para"),
        )
        .withColumn("h", F.md5("para"))
    )
    first = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("first")
    )
    kept = paras.join(first, "h").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("para_idx") == F.col("first.para_idx")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("para_idx", "para"),
                            )
                        )
                    ),
                    lambda s: s.para,
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


PARAGRAPH_DEDUP_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
p AS (
  SELECT doc_id, CAST(u.i AS INT) AS para_idx,
    array_to_string(
      words[(u.i * {PARA_W} + 1):(u.i * {PARA_W} + {PARA_W})], ' ')
      AS para
  FROM w, UNNEST(range(CAST(ceil(len(words) / {PARA_W}.0) AS BIGINT)))
    AS u(i)
),
k AS (
  SELECT doc_id, para_idx, para,
    (ROW_NUMBER() OVER (PARTITION BY md5(para)
       ORDER BY doc_id, para_idx) = 1) AS keep
  FROM p
)
SELECT doc_id,
  COUNT(*) AS n_paras,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  COALESCE(string_agg(CASE WHEN keep THEN para END, ' '
             ORDER BY para_idx), '') AS text_dedup
FROM k GROUP BY doc_id
"""
