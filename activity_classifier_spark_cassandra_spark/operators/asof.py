"""As-of join — an operator Spark SQL lacks (SURVEY.md §2.3 notes the
reference has no joins at all; this is north-star time-series scope).

For each left row, attach the most recent right row (same keys) with
``right.ts <= left.ts``.  The naive formulation is a range join
(quadratic per key); the scalable shape used here is the
union-and-carry-forward trick:

    union(left tagged 1, right tagged 0, aligned schemas)
    -> one hash exchange on the join keys
    -> per-partition sort by (ts, tag)   [right rows first on ties]
    -> last(right payload, ignorenulls) over rowsBetween(-inf, 0)
    -> keep left rows

One exchange + one sort, linear in |left| + |right| — the same cost
as a window function, no row-range explosion.  Ties (right.ts ==
left.ts) match, like DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``,
which is the oracle for the driver query.

Right-side (keys, ts) duplicates must be resolved by the caller
(e.g. max of the payload per (keys, ts)) — both engines would
otherwise pick an arbitrary row of the tie.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table, ts_ticks

_TAG = "_asof_is_left"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Left as-of join: left's columns plus ``asof_``-prefixed right
    payload columns (null where no right row precedes).

    ``right`` must contain (keys..., ts_col, payload_cols...) with
    unique (keys, ts_col)."""
    l_tagged = left.withColumn(_TAG, F.lit(1))
    for c in payload_cols:
        l_tagged = l_tagged.withColumn(f"asof_{c}", F.lit(None))
    r_tagged = right.select(
        *keys,
        F.col(ts_col),
        *[F.col(c).alias(f"asof_{c}") for c in payload_cols],
    ).withColumn(_TAG, F.lit(0))

    u = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # right rows sort before left rows at equal ts -> inclusive match
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u
    for c in payload_cols:
        carried = carried.withColumn(
            f"asof_{c}",
            F.last(
                F.when(F.col(_TAG) == 0, F.col(f"asof_{c}")),
                ignorenulls=True,
            ).over(w),
        )
    return carried.filter(F.col(_TAG) == 1).drop(_TAG)


# ---------------------------------------------------------------- driver
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the user's most recent signup event at or
    before it (the canonical 'state as of event time' query)."""
    raw = load_table(spark, sf_dir, "events")
    # exact integer timeline (sources/io.ts_ticks): the as-of tie rule
    # must see full source precision, not ms truncation
    ticks, per_ms = ts_ticks(raw)
    events = raw.select(
        "event_id", "user_id", "event_type", ticks.alias("ts")
    )
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    # the matched signup's own ts is carried as an extra payload column
    signups = signups.withColumn("signup_ts", F.col("ts"))
    joined = asof_join(
        events,
        signups,
        keys=["user_id"],
        ts_col="ts",
        payload_cols=["signup_event_id", "signup_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.expr(f"ts DIV {per_ms}").alias("ts_ms"),
        F.expr(f"asof_signup_ts DIV {per_ms}").alias("signup_ts_ms"),
        "asof_signup_event_id",
    )


ASOF_JOIN_SQL = """
WITH signups AS (
  SELECT user_id, ts, MAX(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id,
       epoch_ms(e.ts) AS ts_ms,
       epoch_ms(s.ts) AS signup_ts_ms,
       s.signup_event_id AS asof_signup_event_id
FROM events e ASOF LEFT JOIN signups s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


# ---------------------------------------------------------------- range join
def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    upper: int,
) -> DataFrame:
    """Band/range join: pairs (l, r) with the same keys and
    ``l.ts <= r.ts <= l.ts + upper``.

    A raw inequality join plans as a nested-loop (quadratic per key);
    the scalable shape buckets time into ``upper``-wide bins and
    equi-joins on (keys, bucket) — each left row's target interval
    spans at most 2 bins, so the join is linear in matches.  The exact
    band predicate filters the bucket candidates afterwards."""
    if upper <= 0:
        raise ValueError("upper must be positive")
    # integer DIV: float division of ns-scale longs loses precision
    # near bucket boundaries (double mantissa < 2^63)
    l = left.withColumn(
        "_bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"{left_ts} DIV {upper}"),
                    F.expr(f"({left_ts} + {upper}) DIV {upper}"),
                )
            )
        ),
    )
    # internally rename the right ts so left_ts == right_ts is legal;
    # surfaced as "<right_ts>_right" in that case
    rts = "_range_rts"
    r = right.withColumnRenamed(right_ts, rts).withColumn(
        "_bucket", F.expr(f"{rts} DIV {upper}")
    )
    joined = (
        l.join(r, [*keys, "_bucket"])
        .drop("_bucket")
        .filter(
            (F.col(rts) >= F.col(left_ts))
            & (F.col(rts) <= F.col(left_ts) + upper)
        )
    )
    out_name = right_ts if right_ts != left_ts else f"{right_ts}_right"
    return joined.withColumnRenamed(rts, out_name)


_DAY_MS = 24 * 3_600_000


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each signup, the user's event count in the following 24 h —
    the canonical post-conversion activity window."""
    raw = load_table(spark, sf_dir, "events")
    ticks, per_ms = ts_ticks(raw)
    events = raw.select("event_id", "user_id", ticks.alias("ts"))
    signups = raw.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        ticks.alias("signup_ts"),
    )
    joined = range_join(
        signups,
        events,
        keys=["user_id"],
        left_ts="signup_ts",
        right_ts="ts",
        upper=_DAY_MS * per_ms,
    )
    return (
        joined.filter(F.col("event_id") != F.col("signup_id"))
        .groupBy("signup_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_24h"),
            F.min(F.expr(f"ts DIV {per_ms}")).alias("first_ts_ms"),
        )
    )


RANGE_JOIN_SQL = """
SELECT s.event_id AS signup_id, s.user_id,
       COUNT(*) AS n_events_24h,
       MIN(epoch_ms(e.ts)) AS first_ts_ms
FROM events s
JOIN events e
  ON e.user_id = s.user_id
 AND e.ts >= s.ts
 AND e.ts <= s.ts + INTERVAL 24 HOUR
 AND e.event_id <> s.event_id
WHERE s.event_type = 'signup'
GROUP BY 1, 2
"""
