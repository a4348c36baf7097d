"""Change-data-capture compaction: latest-version-wins upsert as a pure
DataFrame plan.

Lakehouse engines expose this as MERGE INTO; on plain parquet the
equivalent nightly job is: union(base, updates) → keep the
highest-version record per key → rewrite.  That is one shuffle on the
key (window or groupBy — both hash-partition by key) regardless of how
many update batches piled up, and it's the shape every 100 TB ingest
pipeline runs to stop small update files from eating read performance.

The registered query builds a deterministic update set from the base
table itself (a key-stable 10% of orders get a corrected price and
version 1), compacts, and summarizes — so the oracle can reproduce it
bit-for-bit with SQL window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table, ts_ms


def upsert_compact(
    base: DataFrame, updates: DataFrame, keys: list[str], version_col: str
) -> DataFrame:
    """Latest-wins compaction: one row per key, the one with the highest
    (version, …keys) — deterministic because version ties are broken by
    preferring the update side only if versions genuinely differ (equal
    versions would be an ingest bug; row_number makes the pick stable
    via the version ordering alone)."""
    unioned = base.unionByName(updates)
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact base orders + a key-stable 10% update batch (price
    corrected +100, version 1), then summarize per status — count and
    price sum shift only if exactly the updated keys won."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "version", F.lit(0)
    )
    updates = (
        orders.filter(
            F.md5(F.col("o_orderkey").cast("string")) < "19999999"
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .withColumn("version", F.lit(1))
    )
    merged = upsert_compact(
        orders, updates, keys=["o_orderkey"], version_col="version"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum("version").alias("n_updated"),
    )


UPSERT_COMPACT_SQL = """
WITH base AS (
  SELECT *, 0 AS version FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 100.0
           AS o_totalprice, o_orderdate, o_orderpriority, 1 AS version
  FROM orders
  WHERE md5(CAST(o_orderkey AS VARCHAR)) < '19999999'
),
merged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM (SELECT * FROM base UNION ALL BY NAME SELECT * FROM updates)
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       CAST(SUM(version) AS BIGINT) AS n_updated
FROM merged WHERE rn = 1
GROUP BY o_orderstatus
"""


# ------------------------------------------------------------- SCD2
def scd2_intervals(events: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each user's
    event stream into validity intervals of their current event_type —
    the gaps-and-islands pattern (change flag via lag -> running sum =
    run id -> one row per run with [valid_from, valid_to)).

    ``events`` needs (user_id, event_id, ts_ms, event_type); the total
    order (ts_ms, event_id) makes run boundaries deterministic even
    when millisecond timestamps tie.  Two windows + one agg, all
    hash-partitioned on user_id — one exchange end to end, no global
    sort, which is the whole trick for building SCD2 tables from a
    100 TB change stream."""
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = events.select(
        "user_id",
        "event_id",
        "ts_ms",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    runs = (
        flagged.withColumn(
            "run_id",
            F.sum("is_start").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "run_id")
        .agg(
            # all rows in a run share event_type; min == that value and
            # is deterministic where first() would not be
            F.min("event_type").alias("event_type"),
            F.min("ts_ms").alias("valid_from_ms"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_run = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w_run).alias("valid_to_ms"),
        "n_events",
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "events")
    ev = raw.select(
        "user_id",
        "event_id",
        ts_ms(raw).alias("ts_ms"),
        "event_type",
    )
    return scd2_intervals(ev)


SCD2_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
  FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN LAG(event_type) OVER w IS NULL
           OR LAG(event_type) OVER w <> event_type
         THEN 1 ELSE 0 END AS is_start
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
),
runs_raw AS (
  SELECT *,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
runs AS (
  SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
         MIN(event_type) AS event_type,
         MIN(ts_ms) AS valid_from_ms,
         COUNT(*) AS n_events
  FROM runs_raw GROUP BY user_id, run_id
)
SELECT user_id, run_id, event_type, valid_from_ms,
       LEAD(valid_from_ms) OVER (PARTITION BY user_id ORDER BY run_id)
         AS valid_to_ms,
       n_events
FROM runs
"""


# ---------------------------------------------------- snapshot diff
#
# Table reconciliation: given two snapshots of the same keyed table,
# classify every key as added / removed / changed / unchanged and roll
# up per-class counts and value checksums.  This is the audit a
# lakehouse pipeline runs after every backfill or engine migration
# ("did the rewrite change anything it shouldn't have?") — and the
# operator a 100 TB migration uses to prove old==new without eyeballs.
#
# Scale shape: ONE full-outer shuffle join on the key — both snapshots
# hash-partition the same way, and the rollup is map-side-combinable
# on a 4-row output.  For repeated diffs against a stable base, write
# both sides bucketed on the key (operators/bucketing.py) and the join
# plans with zero exchanges.
#
# The driver query derives the two snapshots from `events`
# deterministically (old = event_id % 10 != 0, new = event_id % 7 != 0
# with value doubled where event_id % 5 == 0) so the diff exercises
# all four classes; sums ride in DECIMAL so the checksums are
# merge-order-exact.

def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str
) -> DataFrame:
    """Per-class (status, n_keys, sum_value_old, sum_value_new) from a
    full-outer key join of two (key, value) snapshots.

    Presence is carried as EXPLICIT per-side flags, never inferred
    from value nullness — a NULL value in a present row must classify
    as changed/unchanged, not masquerade as a missing key."""
    o = old.select(
        F.col(key).alias("k"),
        F.col("value").alias("v_old"),
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        F.col(key).alias("k"),
        F.col("value").alias("v_new"),
        F.lit(True).alias("in_new"),
    )
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        # null-safe equality: NULL<=>NULL is unchanged, NULL<=>x changed
        .when(~F.col("v_old").eqNullSafe(F.col("v_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, "k", "full_outer")
        .select(status.alias("status"), "v_old", "v_new")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(
                F.sum(F.col("v_old").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value_old"),
            F.round(
                F.sum(F.col("v_new").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value_new"),
        )
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    old = ev.filter(F.expr("event_id % 10 != 0"))
    new = ev.filter(F.expr("event_id % 7 != 0")).select(
        "event_id",
        F.expr(
            "CASE WHEN event_id % 5 == 0 THEN value * 2 ELSE value END"
        ).alias("value"),
    )
    return snapshot_diff(old, new, "event_id")


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT event_id AS k, value AS v_old FROM events WHERE event_id % 10 != 0
),
new AS (
  SELECT event_id AS k,
         CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END AS v_new
  FROM events WHERE event_id % 7 != 0
),
j AS (
  SELECT CASE WHEN v_old IS NULL THEN 'added'
              WHEN v_new IS NULL THEN 'removed'
              WHEN v_old IS DISTINCT FROM v_new THEN 'changed'
              ELSE 'unchanged' END AS status,
         v_old, v_new
  FROM old FULL OUTER JOIN new USING (k)
)
SELECT status, COUNT(*) AS n_keys,
       ROUND(CAST(SUM(CAST(v_old AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_value_old,
       ROUND(CAST(SUM(CAST(v_new AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_value_new
FROM j GROUP BY status
"""


# ------------------------------------- upsert with delete tombstones
#
# Full CDC compaction: the changelog carries an op column (I=insert,
# U=update, D=delete).  Latest version per key wins, and a winning D
# tombstone REMOVES the key — the Debezium/Hudi/Delta MERGE "WHEN
# MATCHED AND op = 'D' THEN DELETE" semantics, expressed on plain
# parquet.  Same single key-shuffle as upsert_compact (one window on
# the key); the tombstone filter is a post-window predicate, so
# deletes cost nothing extra at 100 TB.  Delete-then-reinsert is the
# ordering trap (a reinsert at a HIGHER version must resurrect the
# key); tests/test_cdc.py pins it on a hand-built changelog and the
# registered query exercises it with a version-2 reinsert batch.

def upsert_with_deletes(
    changes: DataFrame, keys: list[str], version_col: str, op_col: str
) -> DataFrame:
    """One row per live key: highest-version change wins; keys whose
    winner is a 'D' tombstone are dropped."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "D"))
        .drop("_rn")
    )


def q_upsert_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact a 3-version changelog derived from orders: v0 full
    insert; v1 updates (+100 price on a key-stable ~12%) and delete
    tombstones (md5 >= 'f8', ~3% of keys); v2 reinserts half the
    deleted range (md5 >= 'fc') at +1000 price.  The summary shifts
    only if tombstones removed exactly ['f8','fc') and the reinserts
    resurrected exactly ['fc','ff..']."""
    orders = load_table(spark, sf_dir, "orders")
    khash = F.md5(F.col("o_orderkey").cast("string"))
    v0 = orders.withColumn("version", F.lit(0)).withColumn(
        "op", F.lit("I")
    )
    v1_upd = (
        orders.filter(khash < "19999999")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("U"))
    )
    v1_del = (
        orders.filter(khash >= "f8")
        .withColumn("version", F.lit(1))
        .withColumn("op", F.lit("D"))
    )
    v2_reins = (
        orders.filter(khash >= "fc")
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("version", F.lit(2))
        .withColumn("op", F.lit("I"))
    )
    changes = (
        v0.unionByName(v1_upd).unionByName(v1_del).unionByName(v2_reins)
    )
    live = upsert_with_deletes(
        changes, keys=["o_orderkey"], version_col="version", op_col="op"
    )
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias(
            "n_updated"
        ),
        F.sum(F.when(F.col("version") == 2, 1).otherwise(0)).alias(
            "n_reinserted"
        ),
    )


UPSERT_WITH_DELETES_SQL = """
WITH changes AS (
  SELECT *, 0 AS version, 'I' AS op FROM orders
  UNION ALL BY NAME
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice, o_orderdate,
         o_orderpriority, 1 AS version, 'U' AS op
  FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) < '19999999'
  UNION ALL BY NAME
  SELECT *, 1 AS version, 'D' AS op FROM orders
  WHERE md5(CAST(o_orderkey AS VARCHAR)) >= 'f8'
  UNION ALL BY NAME
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
         o_orderpriority, 2 AS version, 'I' AS op
  FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) >= 'fc'
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM changes
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(SUM(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reinserted
FROM ranked WHERE rn = 1 AND op <> 'D'
GROUP BY o_orderstatus
"""
