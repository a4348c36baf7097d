"""Bucketed-table co-located join: pre-shuffle the two big fact tables
into the same bucket layout once at ingest, then join them with NO
exchange on either side.

This is the storage-layout half of the shuffle-minimization story (the
runtime half is broadcast/AQE): at 100 TB the orders⋈lineitem shuffle
is the single most expensive exchange in the warehouse, and bucketing
both tables by the join key at write time amortizes it across every
subsequent join.  Spark's EnsureRequirements recognizes the two
bucketed scans as co-partitioned (HashPartitioning on the equi-join
keys) and plans a SortMergeJoin with zero Exchange below it — the only
shuffle left in the query is the final small groupBy.

The reference pays this join per run as an RDD-level re-key
(job/RecognizeActivity.java joins users' ordered samples per
activity); bucketing is the warehouse-native answer.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import clear_stale_table_location, load_table, managed_table_path

N_BUCKETS = 8


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
) -> DataFrame:
    """Idempotent ingest of one testdata table into a bucketed+sorted
    parquet table (one-time shuffle).  The table name carries the SF
    tag so sf0.001 tests and sf0.01/0.1 driver runs don't collide; the
    explicit path keeps the data inside the repo warehouse regardless
    of the calling session's cwd."""
    tag = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))
    tbl = f"bkt_{name}_{tag}"
    if not spark.catalog.tableExists(tbl):
        clear_stale_table_location(spark, tbl)
        (
            load_table(spark, sf_dir, name)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", managed_table_path(spark, tbl))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority off the bucketed orders⋈lineitem join.
    Exchange-free join (pinned in tests/test_plans.py): both scans are
    bucketed by their join key, so the only shuffle is the final
    O(|priorities|) aggregation."""
    orders = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    lineitem = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    return (
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "inner"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_revenue"),
        )
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""
