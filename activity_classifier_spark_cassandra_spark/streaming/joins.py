"""Stream-stream join: click→purchase attribution with watermarked
state on both sides.

The last missing piece of the streaming surface (sessions, tumbling
aggs, stateful ops, and dedup live in the sibling modules): joining two
live streams.  Spark buffers both sides in state; without watermarks
AND a time-bound join condition that state is unbounded — the join
below carries both, so each side's buffer holds only the attribution
window.

Semantics: every purchase joins to every click by the same user in the
preceding attribution window (interval join, not equi-time).  Executed
on batch frames the same code produces the identical result, which is
how the registered driver query and the DuckDB oracle check it; the
pytest runs it as two real file-source streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import with_event_time

ATTRIBUTION = "30 minutes"


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
) -> DataFrame:
    """(purchase event, attributed click) pairs: same user, click before
    purchase, within the ATTRIBUTION window."""
    c = (
        with_event_time(clicks)
        .withWatermark("event_time", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("click_time"),
        )
    )
    p = (
        with_event_time(purchases)
        .withWatermark("event_time", "1 hour")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
            F.col("event_time").alias("purchase_time"),
        )
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_time") < F.col("purchase_time"))
        & (
            F.col("click_time")
            >= F.col("purchase_time") - F.expr(f"INTERVAL {ATTRIBUTION}")
        ),
    ).drop("c_user")


def q_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution summary per user: attributed purchase count and
    value (a purchase with k in-window clicks counts k pair rows; the
    summary counts distinct purchases, so fan-out bugs shift it)."""
    from ..sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    pairs = attribute_purchases(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return pairs.groupBy("user_id").agg(
        F.countDistinct("purchase_id").alias("n_attributed"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("purchase_value"))
            / F.countDistinct("purchase_id"),
            6,
        ).alias("avg_pair_value"),
    )


STREAM_JOIN_ATTRIBUTION_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_time
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, value AS purchase_value,
         ts AS purchase_time
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT p.user_id, p.purchase_id, p.purchase_value
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.click_time < p.purchase_time
   AND c.click_time >= p.purchase_time - INTERVAL 30 MINUTE
)
SELECT user_id,
       COUNT(DISTINCT purchase_id) AS n_attributed,
       COUNT(*) AS n_pairs,
       ROUND(SUM(purchase_value) / COUNT(DISTINCT purchase_id), 6)
         AS avg_pair_value
FROM pairs GROUP BY user_id
"""
