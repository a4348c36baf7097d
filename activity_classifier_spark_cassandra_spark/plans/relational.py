"""Relational operator coverage (SURVEY.md §2.2-2.8) over the driver's
TPC-H-ish tables, one named query per inventory row, each with a DuckDB
oracle SQL string.

The reference has no SQL layer — its "relational" surface is manual
projections/predicates pushed into CQL plus driver-side loops
(SURVEY.md §2.2-2.3).  Here every operator is a declarative DataFrame
plan so Catalyst does pushdown/pruning/join-selection; joins that the
reference lacks entirely (§2.3 note) are first-class.

Scale notes per query are in the docstrings: what shuffles, what
broadcasts, and why the plan survives 100×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import EVENT_TYPE_LABELS, EVENTS_MIN_SAMPLES
from ..functions.labels import encode_event_type, label_case_sql
from ..sources.io import load_table, ts_literal, ts_ms


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------- A1
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 distinct: RecognizeActivity.java:50's user-id scan.  Partial
    (map-side) distinct then a single exchange on user_id."""
    return _t(spark, sf_dir, "events").select("user_id").distinct()


DISTINCT_USERS_SQL = "SELECT DISTINCT user_id FROM events"


# --------------------------------------------------------------- A2
def q_count_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 count gate: the `> 100 samples` check at
    RecognizeActivity.java:74 as a grouped HAVING instead of one
    count() action per (user, activity).  The threshold is
    the documented events-scale constant EVENTS_MIN_SAMPLES (the
    reference value is constants.MIN_SAMPLES_PER_GROUP)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > EVENTS_MIN_SAMPLES)
    )


COUNT_GATE_SQL = f"""
SELECT user_id, event_type, COUNT(*) AS n
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > {EVENTS_MIN_SAMPLES}
"""


# --------------------------------------------------------------- A9
def q_minmax_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: the reference gets min/max by sorting and taking first()
    (RecognizeActivity.java:152-153) — never sort for an extremum;
    min/max are one-pass partial aggregates."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            # min/max commute with the monotone ts->ms normalization
            F.min(ts_ms(ev)).alias("first_ts"),
            F.max(ts_ms(ev)).alias("last_ts"),
        )
    )


MINMAX_TS_SQL = """
SELECT user_id, event_type,
       MIN(epoch_ms(ts)) AS first_ts, MAX(epoch_ms(ts)) AS last_ts
FROM events GROUP BY user_id, event_type
"""


# --------------------------------------------------------------- P3
def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 range filter with both bounds exclusive
    (RecognizeActivity.java:244-246).  The predicate reaches the
    parquet scan (PushedFilters) — at 100 TB this is row-group
    pruning, not a post-scan filter."""
    lo, hi = 1705276800000, 1705536000000  # 2024-01-15 .. 2024-01-18 (excl)
    ev = _t(spark, sf_dir, "events")
    # Predicates are rewritten onto the RAW stored column (ts_ms > lo
    # <=> ts >= lo+1 ms, exact at any sub-ms precision) so they reach
    # the parquet scan as PushedFilters — a conversion expression in
    # the predicate would not.  ts_literal emits a matching-typed
    # constant for either physical encoding.
    return (
        ev.filter(
            (F.col("ts") >= ts_literal(ev, lo + 1))
            & (F.col("ts") < ts_literal(ev, hi))
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            ts_ms(ev).alias("ts_ms"),
            "value",
        )
    )


RANGE_FILTER_SQL = """
SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
FROM events
WHERE epoch_ms(ts) > 1705276800000 AND epoch_ms(ts) < 1705536000000
"""


# --------------------------------------------------------------- P10
def q_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F7: fixed CASE label map (RecognizeActivity.java:187-200)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "event_type", encode_event_type().alias("label")
    )


LABEL_ENCODE_SQL = f"""
SELECT event_id, event_type,
       {label_case_sql("event_type", EVENT_TYPE_LABELS)} AS label
FROM events
"""


# --------------------------------------------------------------- P9/F5
def q_truncate_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/F5: the double->long truncation of DataManager.java:22 (Java
    cast semantics = truncate toward zero, hence TRUNC in the oracle —
    DuckDB's bare CAST rounds)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "value", F.col("value").cast("long").alias("value_long")
    )


TRUNCATE_CAST_SQL = """
SELECT event_id, value, CAST(TRUNC(value) AS BIGINT) AS value_long
FROM events
"""


# --------------------------------------------------------------- F4
def q_string_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: string->long cast (Long.valueOf at
    RecognizeActivity.java:245), exercised on a real string source —
    the JSON props field — so it also covers semi-structured
    extraction.  Pure projection, zero shuffle."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_long"),
        )
    )


STRING_CAST_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long
FROM events
"""


# --------------------------------------------------------------- A10/P8
def q_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: filter(pred != label).count() / count() as a single
    conditional mean (DecisionTrees.java:39-43) — no double pass."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(
                F.avg(F.when(F.col("value") > 50.0, 1.0).otherwise(0.0)), 6
            ).alias("rate"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ERROR_RATE_SQL = """
SELECT event_type,
       ROUND(AVG(CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END), 6) AS rate,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------- A6
def q_two_pass_absdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 standalone: mean absolute deviation from the group mean
    (ExtractFeature.java:53-65) — windowed mean feeds the aggregate;
    the window partitioning is reused by the groupBy (one exchange)."""
    w = Window.partitionBy("l_returnflag")
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_m", F.avg("l_quantity").over(w)
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(F.abs(F.col("l_quantity") - F.col("_m"))), 6).alias(
            "avg_abs_dev_qty"
        ),
        F.count(F.lit(1)).alias("n"),
    )


TWO_PASS_ABSDEV_SQL = """
WITH m AS (
  SELECT *, AVG(l_quantity) OVER (PARTITION BY l_returnflag) AS _m
  FROM lineitem
)
SELECT l_returnflag,
       ROUND(AVG(ABS(l_quantity - _m)), 6) AS avg_abs_dev_qty,
       COUNT(*) AS n
FROM m GROUP BY l_returnflag
"""


# --------------------------------------------------------------- A7/F1/F2
def q_resultant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: mean resultant sqrt(x^2+y^2+z^2) (ExtractFeature.java:70-82),
    here over three lineitem measures."""
    li = _t(spark, sf_dir, "lineitem")
    r = F.sqrt(
        F.col("l_quantity") * F.col("l_quantity")
        + F.col("l_discount") * F.col("l_discount")
        + F.col("l_tax") * F.col("l_tax")
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(r), 6).alias("mean_resultant")
    )


RESULTANT_SQL = """
SELECT l_returnflag,
       ROUND(AVG(SQRT(l_quantity*l_quantity + l_discount*l_discount
                      + l_tax*l_tax)), 6) AS mean_resultant
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------- A3-A5
def q_mean_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4/A5 in one grouped agg — the reference runs a separate
    colStats treeAggregate per statistic per window.  var_samp (n-1)
    parity per MultivariateOnlineSummarizer."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
            F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
            F.round(F.max("l_extendedprice"), 6).alias("max_price"),
            F.round(F.min("l_extendedprice"), 6).alias("min_price"),
        )
    )


MEAN_VAR_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(AVG(l_extendedprice), 6) AS mean_price,
       ROUND(VAR_SAMP(l_extendedprice), 4) AS var_price,
       ROUND(MAX(l_extendedprice), 6) AS max_price,
       ROUND(MIN(l_extendedprice), 6) AS min_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------- O2/O3
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 sort + limit: Spark plans a TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver, never a
    global sort.  Tie-broken on event_id for determinism."""
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(10)
    )


TOPK_SQL = """
SELECT event_id, user_id, value
FROM events ORDER BY value DESC, event_id ASC LIMIT 10
"""


# --------------------------------------------------------------- TPC-H Q1
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + 8 aggs over 2 group keys.  Partial agg
    map-side means the exchange carries ~6 rows per partition
    regardless of SF — the canonical scale-proof aggregation."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------- TPC-H Q3
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> join -> agg ->
    top-k.  customer is tiny -> broadcast (no shuffle for the first
    join); orders⋈lineitem shuffles on orderkey, which AQE re-plans
    at runtime if the filtered side turns out broadcastable."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.hint("shuffle_hash"),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


# --------------------------------------------------------------- TPC-H Q5
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join.  region/nation/supplier/customer are
    dimensions -> broadcast them all; the only shuffle left is
    orders⋈lineitem on orderkey."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --------------------------------------------------------------- joins
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti = NOT EXISTS, against *high-value* orders so the check
    has teeth (every customer has some order in this data; an
    unfiltered anti-join returns 0 rows and a 0=0 oracle match proves
    nothing).  The orders side is reduced to its keys by the anti-join
    itself; broadcast the smaller distinct-key set at scale."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi = EXISTS over a filtered fact side."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_nationkey")


SEMI_JOIN_SQL = """
SELECT c_custkey, c_nationkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 done right: the reference's driver-side user×activity loop
    (RecognizeActivity.java:53-74) becomes a broadcast hash join
    against the dimension chain customer->nation->region."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


BROADCAST_DIM_JOIN_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------- distinct agg
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase partial distinct
    aggregate; no driver involvement."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


DISTINCT_AGG_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------- rollup
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent in the reference; free in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------- pivot
def q_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (portable; Spark's .pivot()
    plans the same conditional-agg shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))),
            2,
        ).alias("qty_open"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))),
            2,
        ).alias("qty_filled"),
    )


CONDITIONAL_PIVOT_SQL = """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
         AS qty_open,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
         AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------- ranking
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the standard
    grouped-top-k; one exchange on the partition key, then a
    per-partition sort (no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


# --------------------------------------------------------------- set ops
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: the reference has no set ops; union/intersect/except are
    free in Spark.  Customers in ASIA union customers with open orders."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    asia = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    open_orders = (
        cust.join(
            orders.filter(F.col("o_orderstatus") == "O"),
            cust.c_custkey == orders.o_custkey,
            "left_semi",
        ).select("c_custkey")
    )
    return asia.union(open_orders).distinct()


UNION_DISTINCT_SQL = """
SELECT c_custkey FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
UNION
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


# --------------------------------------------------------------- TPC-H Q6
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan-side filters + a single
    global agg.  All three predicates reach the parquet scan
    (PushedFilters) — at 100 TB this is the row-group-pruning
    showcase; the exchange carries one partial row per partition."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------- percentiles
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group — both
    engines use the same linear-interpolation definition.  Spark plans
    a single sort-based aggregate per group; at scale prefer
    approx_percentile (t-digest) — kept exact here for the oracle."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias(
                "median_price"
            ),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias(
                "p90_price"
            ),
        )
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------- cube
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (superset of the reference's per-(user,
    activity) rollups; free in Spark, §2.4 note)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------- frames
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding row-frame window (rowsBetween -3..0): the per-series
    moving average the reference would need for smoothing.  One
    exchange on the series keys + per-partition sort."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(ts_ms(ev).asc(), F.col("event_id").asc())
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.avg("value").over(w), 6).alias("moving_avg_4"),
    )


MOVING_AVG_SQL = """
SELECT event_id, user_id, event_type,
       ROUND(AVG(value) OVER (
         PARTITION BY user_id, event_type
         ORDER BY epoch_ms(ts), event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg_4
FROM events
"""


def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag/first_value in one ordered window — the W1 family
    surfaced directly (deltas to both neighbors plus series anchor)."""
    ev = _t(spark, sf_dir, "events")
    ms = ts_ms(ev)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        ms.asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (ms - F.lag(ms, 1).over(w)).alias("delta_prev"),
        (F.lead(ms, 1).over(w) - ms).alias("delta_next"),
        F.first(F.col("event_id")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("first_event_id"),
    )


LEAD_LAG_SQL = """
SELECT event_id, user_id, event_type,
       epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w AS delta_prev,
       LEAD(epoch_ms(ts)) OVER w - epoch_ms(ts) AS delta_next,
       FIRST_VALUE(event_id) OVER (PARTITION BY user_id, event_type
         ORDER BY epoch_ms(ts), event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_event_id
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_ms(ts), event_id)
"""


# --------------------------------------------------------------- TPC-H Q17
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape through the SQL entry path: a correlated scalar
    subquery (per-part average quantity) that Catalyst decorrelates
    into an aggregate + join — no per-row re-execution.  Also exercises
    spark.sql() + temp views, the engine's second API surface."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_lineitem"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        SELECT p_brand,
               ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n
        FROM v_lineitem
        JOIN v_part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.5 * AVG(l_quantity) FROM v_lineitem l2
          WHERE l2.l_partkey = v_part.p_partkey
        )
        GROUP BY p_brand
        """
    )


Q17_SQL = """
SELECT p_brand,
       ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
  SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = part.p_partkey
)
GROUP BY p_brand
"""


# ------------------------------------------------------ grouping sets
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube):
    three granularities in ONE scan + one exchange — Spark expands the
    sets map-side, so the fact table is not re-read per set.  grouping()
    markers disambiguate "NULL key" from "aggregated-away key"."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# --------------------------------------------------- ranking windows
def q_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment + distribution ranks per status partition.
    One exchange on the partition key; ntile needs a deterministic
    total order, so the orderkey breaks o_totalprice ties."""
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


NTILE_DIST_SQL = """
SELECT o_orderkey, o_orderstatus,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


# ------------------------------------------------------- sketches
def approx_sketch_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw sketch outputs (HLL++ count, GK q50/q95) per return flag —
    the un-gated values behind q_approx_sketch, kept separate so
    tests/test_relational_sketch.py can pin the actual error curves
    against exact answers (the driver sees only the boolean gates)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias(
            "approx_orders"
        ),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
            "price_q50"
        ),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias(
            "price_q95"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB answer to COUNT(DISTINCT) and exact percentiles:
    HyperLogLog++ and GK-sketch quantiles.  Both are mergeable partial
    states — the exchange carries one sketch per partition instead of
    every distinct value, which is the entire point at scale.

    HARD oracle via the same tolerance-gate pattern as
    q_approx_distinct: alongside the exact per-group counts, emit
    booleans asserting each sketch landed inside its error bound (HLL
    within 3x its 2% rsd; each GK quantile between the exact p±0.02
    quantiles — generous vs the configured 1/10000 rank accuracy).
    The oracle emits the exact values plus literal TRUE, so the value
    hash fails iff a sketch drifts out of tolerance.  Exact error
    curves are additionally pinned in tests/test_relational_sketch.py.

    Plan note: the distinct counts and the percentile sketches run as
    TWO aggregates joined on the 3-row group key, NOT one.  A single
    agg mixing COUNT(DISTINCT) with typed-imperative buffers plans an
    Expand (x2 rows) that every percentile buffer is dragged through
    with a sort-agg fallback — measured 26s vs 3.5s at sf0.1 on
    local[32], and strictly worse at scale."""
    li = _t(spark, sf_dir, "lineitem")
    distincts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_hll"),
    )
    quantiles = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_q50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("_q95"),
        F.expr("percentile(l_extendedprice, 0.48)").alias("_q50_lo"),
        F.expr("percentile(l_extendedprice, 0.52)").alias("_q50_hi"),
        F.expr("percentile(l_extendedprice, 0.93)").alias("_q95_lo"),
        F.expr("percentile(l_extendedprice, 0.97)").alias("_q95_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    agg = distincts.join(quantiles, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "n_rows",
        (
            F.abs(F.col("_hll") - F.col("exact_orders"))
            <= 0.06 * F.col("exact_orders")
        ).alias("hll_in_tolerance"),
        F.col("_q50").between(
            F.col("_q50_lo"), F.col("_q50_hi")
        ).alias("q50_in_tolerance"),
        F.col("_q95").between(
            F.col("_q95_lo"), F.col("_q95_hi")
        ).alias("q95_in_tolerance"),
    )


APPROX_SKETCH_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(*) AS n_rows,
       TRUE AS hll_in_tolerance,
       TRUE AS q50_in_tolerance,
       TRUE AS q95_in_tolerance
FROM lineitem
GROUP BY l_returnflag
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ with a HARD oracle: emit the exact per-group distinct
    count plus a boolean asserting the sketch landed within 3× its
    configured rsd (2% ⇒ 6% gate); the oracle emits the exact count
    plus literal TRUE.  The value hash therefore fails iff the sketch
    drifts out of tolerance — an approx operator checked by the same
    hash gate as the exact ones, instead of being demoted to
    rows-only."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_orders"))
            <= 0.06 * F.col("exact_orders")
        ).alias("approx_in_tolerance"),
    )


APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS approx_in_tolerance
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------- unpivot
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): four measure columns become (metric,
    value) rows via the native unpivot operator — a zero-shuffle
    generate step; the only exchange is the summary agg."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("val"), 6).alias("avg_val"),
    )


UNPIVOT_SQL = """
SELECT l_returnflag, metric, COUNT(*) AS n, ROUND(AVG(val), 6) AS avg_val
FROM (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
GROUP BY l_returnflag, metric
"""


# ----------------------------------------------------- anomaly scan
def q_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outlier scan over each user's event series: the
    monitoring primitive for metric streams.  value is compared to the
    mean/stddev of the PRECEDING 20 events (never the current row —
    including it dilutes the very spike being tested).  One exchange on
    user_id; the frame is a per-partition sort Spark already needs for
    the window."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_ms(ev).asc(), F.col("event_id").asc())
        .rowsBetween(-20, -1)
    )
    mean = F.avg("value").over(w)
    std = F.stddev_samp("value").over(w)
    z = (F.col("value") - mean) / F.nullif(std, F.lit(0.0))
    return (
        ev.select(
            "event_id", "user_id", "value", F.round(z, 6).alias("zscore")
        )
        .filter(F.abs(F.col("zscore")) > 2.5)
    )


ZSCORE_ANOMALY_SQL = """
SELECT event_id, user_id, value, zscore
FROM (
  SELECT event_id, user_id, value,
         ROUND((value - AVG(value) OVER w)
               / NULLIF(STDDEV_SAMP(value) OVER w, 0.0), 6) AS zscore
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY epoch_ms(ts) ASC, event_id ASC
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
WHERE ABS(zscore) > 2.5
"""


# ----------------------------------------------------- profiling
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (20 bins) of order totals — the profiling
    primitive behind every data-quality dashboard.  Bin edges come from
    a 1-row global agg broadcast into the bucketing projection, so the
    whole thing is two scans and two 1-row-ish exchanges at any SF."""
    orders = _t(spark, sf_dir, "orders")
    edges = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    n_bins = 20
    binned = orders.crossJoin(F.broadcast(edges)).select(
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n_bins)
            ),
        ).alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


HISTOGRAM_SQL = """
WITH edges AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
)
SELECT CAST(LEAST(19, FLOOR((o_totalprice - lo) / ((hi - lo) / 20)))
            AS BIGINT) AS bin,
       COUNT(*) AS n
FROM orders CROSS JOIN edges
GROUP BY 1
"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders: one row per column with
    null count, distinct count, and min/max rendered as strings.  All
    columns profile in a single scan (one agg computes every stat);
    the per-column rows are unpivoted from that 1-row frame, so adding
    a column adds expressions, not passes."""
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    stacked = one.selectExpr(
        "stack({n}, {args}) as (column, n_nulls, n_distinct, min_val, max_val)".format(
            n=len(cols),
            args=", ".join(
                f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
                for c in cols
            ),
        )
    )
    return stacked


PROFILE_SQL = """
WITH one AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS k_nulls,
    COUNT(DISTINCT o_orderkey) AS k_distinct,
    CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
    CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS c_nulls,
    COUNT(DISTINCT o_custkey) AS c_distinct,
    CAST(MIN(o_custkey) AS VARCHAR) AS c_min,
    CAST(MAX(o_custkey) AS VARCHAR) AS c_max,
    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS s_nulls,
    COUNT(DISTINCT o_orderstatus) AS s_distinct,
    CAST(MIN(o_orderstatus) AS VARCHAR) AS s_min,
    CAST(MAX(o_orderstatus) AS VARCHAR) AS s_max,
    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS t_nulls,
    COUNT(DISTINCT o_totalprice) AS t_distinct,
    CAST(MIN(o_totalprice) AS VARCHAR) AS t_min,
    CAST(MAX(o_totalprice) AS VARCHAR) AS t_max
  FROM orders
)
SELECT 'o_orderkey' AS column, k_nulls AS n_nulls, k_distinct AS n_distinct,
       k_min AS min_val, k_max AS max_val FROM one
UNION ALL
SELECT 'o_custkey', c_nulls, c_distinct, c_min, c_max FROM one
UNION ALL
SELECT 'o_orderstatus', s_nulls, s_distinct, s_min, s_max FROM one
UNION ALL
SELECT 'o_totalprice', t_nulls, t_distinct, t_min, t_max FROM one
"""
