"""Skew-mitigation utilities for hot keys at scale.

At 100 TB a handful of hot (user_id, event_type) series or hot join
keys dominate task runtimes.  AQE's skew-join splitting covers joins;
for *aggregations* Spark's partial aggregation usually suffices — but
high-cardinality aggregation states (collect-style, exact distinct)
don't combine map-side, and those need explicit salting:

  stage 1: groupBy(keys..., salt = pmod(hash(...), n_salts)) — the
           hot key's rows split across n_salts reducers;
  stage 2: groupBy(keys...) merging the partial states.

``salted_agg`` implements the two-stage shape for algebraic aggregates
(sum / count / min / max, and avg decomposed into sum+count), which
re-combine exactly — results are identical to the direct groupBy, as
the pytest asserts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALTS = 16


def with_salt(df: DataFrame) -> DataFrame:
    """Uniform random-ish salt derived from a monotonically varying
    expression (not the group key — salting by a function of the key
    would keep the hot key on one reducer)."""
    return df.withColumn(
        "_salt",
        F.pmod(F.monotonically_increasing_id(), F.lit(N_SALTS)).cast("int"),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-stage salted aggregation, exactly equivalent to
    ``df.groupBy(keys).agg(sum/count/min/max/avg)``.

    avg is decomposed into (sum, count) partials so the merge is exact
    (averaging averages would weight groups wrongly)."""
    stage1_aggs = []
    stage2_aggs = []
    for c in sum_cols:
        stage1_aggs.append(F.sum(c).alias(f"_s_{c}"))
        stage2_aggs.append(F.sum(f"_s_{c}").alias(f"sum_{c}"))
    for c in set(avg_cols):
        stage1_aggs.append(F.sum(c).alias(f"_as_{c}"))
        stage1_aggs.append(F.count(c).alias(f"_ac_{c}"))
        stage2_aggs.append(
            (F.sum(f"_as_{c}") / F.sum(f"_ac_{c}")).alias(f"avg_{c}")
        )
    stage1_aggs.append(F.count(F.lit(1)).alias("_n"))
    stage2_aggs.append(F.sum("_n").alias("n"))
    for c in min_cols:
        stage1_aggs.append(F.min(c).alias(f"_mn_{c}"))
        stage2_aggs.append(F.min(f"_mn_{c}").alias(f"min_{c}"))
    for c in max_cols:
        stage1_aggs.append(F.max(c).alias(f"_mx_{c}"))
        stage2_aggs.append(F.max(f"_mx_{c}").alias(f"max_{c}"))

    salted = with_salt(df)
    partial = salted.groupBy(*keys, "_salt").agg(*stage1_aggs)
    return partial.groupBy(*keys).agg(*stage2_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Skew-join rewrite for a hot equi-join key when the dim side is
    too big to broadcast outright: salt the fact rows uniformly and
    replicate every dim row across all ``N_SALTS`` salt values, then
    join on (key, salt) — the hot key's fact rows land on ``N_SALTS``
    reducers instead of one.  Pure physical rewrite: the result is
    row-identical to ``fact.join(dim, fact_key == dim_key)``.

    Cost model: dim shuffle volume grows ×N_SALTS, fact volume is
    unchanged — the right trade whenever the straggler task on the hot
    key dominates wall-clock (at 100 TB a single hot key can hold a
    1000-executor stage hostage; 16× dim replication is noise).  AQE's
    skew-join splitting handles the moderate cases at runtime; this is
    the explicit shape for the pathological ones, and for the
    bucketed/sorted layouts AQE can't re-split."""
    fact_s = with_salt(fact)
    dim_s = dim.withColumn(
        "_salt",
        F.explode(
            F.array(*[F.lit(i).cast("int") for i in range(N_SALTS)])
        ),
    )
    cond = (fact_s[fact_key] == dim_s[dim_key]) & (
        fact_s["_salt"] == dim_s["_salt"]
    )
    return fact_s.join(dim_s, cond, "inner").drop("_salt")


# ---------------------------------------------------------------- driver
def q_salted_agg(spark, sf_dir: str) -> DataFrame:
    """Driver registration of the salted two-stage aggregate: identical
    results to the direct groupBy (the oracle is the plain GROUP BY),
    proving the skew path is a pure physical rewrite."""
    from ..sources.io import load_table

    df = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    out = salted_agg(
        df,
        keys=["user_id", "event_type"],
        sum_cols=["value"],
        avg_cols=["value"],
        min_cols=["value"],
        max_cols=["value"],
    )
    return out.select(
        "user_id",
        "event_type",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("avg_value", 6).alias("avg_value"),
        "n",
        "min_value",
        "max_value",
    )


SALTED_AGG_SQL = """
SELECT user_id, event_type,
       ROUND(SUM(value), 6) AS sum_value,
       ROUND(AVG(value), 6) AS avg_value,
       COUNT(*) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY user_id, event_type
"""


def q_salted_join(spark, sf_dir: str) -> DataFrame:
    """Driver registration of the skew-join rewrite: per-user event
    revenue joined to the customer dim through the salted (key, salt)
    join, then aggregated per market segment.  The oracle is the plain
    join — identical rows prove the rewrite is physical-only."""
    from ..sources.io import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(events, cust, "user_id", "c_custkey")
    # decimal sum: the per-segment groups are large (10k+ doubles), so
    # a float sum is addition-order-sensitive across engines (the r2
    # q_upsert_compact lesson) — decimal re-association is exact
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
        ).alias("sum_value"),
    )


SALTED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# ------------------------------------------------- skew diagnostics
def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """The diagnostic that decides WHEN the salted rewrites above are
    worth their overhead: per-key row counts for the ``top_n`` heaviest
    keys, with each key's share of the table and of a perfectly uniform
    partition.  At 100 TB this is one partial-agg exchange (map-side
    combine collapses each partition to its distinct keys first) and a
    top_n-row result — run it on the join key BEFORE the join, and salt
    only when max share says one reducer would own the key."""
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    per_key = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), F.col(key_col).asc())
        .limit(top_n)
    )


def q_key_skew_profile(spark, sf_dir: str) -> DataFrame:
    """Heaviest event users — the exact table a platform engineer reads
    before enabling the salted aggregation for this key."""
    from ..sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_n=10)


KEY_SKEW_PROFILE_SQL = """
WITH total AS (SELECT COUNT(*) AS n_total FROM events)
SELECT user_id, COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / ANY_VALUE(n_total), 6) AS share
FROM events CROSS JOIN total
GROUP BY user_id
ORDER BY n DESC, user_id ASC
LIMIT 10
"""
