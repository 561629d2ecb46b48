"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry demonstrates one or more rows of SURVEY §2's operator
inventory on the synthetic test tables. The Spark side is built from
``cmsspark_spark`` operators/functions; the oracle side is ANSI SQL that
DuckDB runs on the same parquet — the driver compares row counts,
schemas and value hashes at sf0.01 (CORRECTNESS_r{N}.json).

Conventions (driver compare is column-name + value-hash based):
- every computed column is aliased identically in Spark and SQL;
- doubles are rounded (2 for currency-scale sums, 4 for ratios/avgs,
  6 for cosines) on BOTH sides;
- timestamps/dates in outputs are rendered as strings on BOTH sides;
- integer-sum results are cast to BIGINT in DuckDB (its default is
  HUGEINT) so schemas line up.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from cmsspark_spark import catalog
from cmsspark_spark.functions import text as T
from cmsspark_spark.operators import aggregations as A
from cmsspark_spark.operators import dedup as D
from cmsspark_spark.operators import joins as J
from cmsspark_spark.operators import multimodal as M
from cmsspark_spark.operators import similarity as S
from cmsspark_spark.operators import sketches as K
from cmsspark_spark.operators.memo import SessionMemo
from cmsspark_spark.session import local_frame

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | None = None
) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name, widen=widen)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.3-§2.8)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A11/P4: multi-aggregate groupBy with arithmetic expressions."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_topk_revenue",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 3-way join + W4 top-k (TakeOrderedAndProject, no global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1995-03-15"))
    )
    # customer grows with SF: size-aware hint, not a forced broadcast
    joined = li.join(
        o, li.l_orderkey == o.o_orderkey
    ).join(J.broadcast_if_small(c), o.o_custkey == c.c_custkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    out = agg.select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )
    return A.top_k(out, [F.col("revenue").desc(), F.col("l_orderkey")], 10)


@query(
    "q5_region_revenue",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
                JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 snowflake 6-way join; dims broadcast so the fact never shuffles
    for enrichment."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem", widen=True)
    s = _t(spark, sf_dir, "supplier")
    dims = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    cust = c.join(F.broadcast(dims), c.c_nationkey == dims.n_nationkey)
    ord_c = o.join(cust, o.o_custkey == cust.c_custkey)
    # supplier grows with SF: size-aware hint (nation/region above are
    # spec-fixed at 25/5 rows, so their unconditional hints are safe)
    li_s = li.join(J.broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
    joined = li_s.join(ord_c, li_s.l_orderkey == ord_c.o_orderkey).filter(
        F.col("s_nationkey") == F.col("c_nationkey")
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@query(
    "enrich_customers_orders",
    """
    WITH per_cust AS (
      SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           count(*)                                              AS n_customers,
           sum(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_inactive,
           round(sum(coalesce(spend, 0)), 2)                     AS total_spend
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def enrich_customers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left-outer enrichment + P5 null handling + A3 conditional count."""
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("spend"))
    )
    enriched = J.enrich(c, per_cust, on=c.c_custkey == per_cust.o_custkey, broadcast_dim=False)
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        A.conditional_count(F.col("n_orders").isNull()).alias("n_inactive"),
        F.round(F.sum(F.coalesce(F.col("spend"), F.lit(0.0))), 2).alias("total_spend"),
    )


@query(
    "coverage_full_outer",
    """
    WITH l AS (SELECT DISTINCT c_custkey AS k FROM customer),
         r AS (SELECT DISTINCT o_custkey AS k FROM orders)
    SELECT CASE WHEN l.k IS NOT NULL AND r.k IS NOT NULL THEN 'both'
                WHEN l.k IS NOT NULL THEN 'left_only'
                ELSE 'right_only' END AS presence,
           count(*) AS n
    FROM l FULL JOIN r ON l.k = r.k
    GROUP BY 1
    """,
)
def coverage_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 full-outer key-space coverage (rucio_datasets_stats.py:408-427
    shape: which files exist in Rucio vs DBS)."""
    left = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    right = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    cov = J.full_outer_coverage(left, right, on=["k"])
    return cov.groupBy("presence").agg(F.count(F.lit(1)).alias("n"))


@query(
    "anti_join_inactive_customers",
    """
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY n_name
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 anti-join leftovers (reports/aggregate_leftovers.py:127-140) as
    a single left_anti instead of subtract + re-join."""
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "k")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    n = _t(spark, sf_dir, "nation")
    inactive = J.anti_join(c, o, on=["k"])
    joined = J.enrich(inactive, n, on=inactive.c_nationkey == n.n_nationkey, how="inner")
    return joined.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "broadcast_region_stats",
    """
    SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 broadcast dims: the fact (customer) never shuffles for the join."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dims = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "r_name"
    )
    joined = J.enrich(c, dims, on=c.c_nationkey == dims.n_nationkey, how="inner")
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
    )


@query(
    "argmax_join_max_qty_line",
    """
    WITH mx AS (SELECT l_orderkey, max(l_quantity) AS l_quantity
                FROM lineitem GROUP BY l_orderkey)
    SELECT l_returnflag, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN mx USING (l_orderkey, l_quantity)
    GROUP BY l_returnflag
    """,
)
def argmax_join_max_qty_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 compound-key equi-join + the reference's group-agg+join-back
    idiom that substitutes for window functions (SURVEY §2.6 W1)."""
    li = _t(spark, sf_dir, "lineitem")
    mx = li.groupBy("l_orderkey").agg(F.max("l_quantity").alias("l_quantity"))
    joined = li.join(mx, on=["l_orderkey", "l_quantity"])
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "two_hop_nation_revenue",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(DISTINCT c_custkey) AS n_customers
    FROM lineitem JOIN orders   ON l_orderkey  = o_orderkey
                  JOIN customer ON o_custkey   = c_custkey
                  JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def two_hop_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 chained two-hop map joins (file→block→dataset shape) + A4."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    hop = J.two_hop(
        li.withColumn("o_orderkey", F.col("l_orderkey")),
        o,
        hop_key=["o_orderkey"],
    )
    joined = hop.join(c, hop.o_custkey == c.c_custkey).join(
        F.broadcast(n), F.col("c_nationkey") == n.n_nationkey
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.countDistinct("c_custkey").alias("n_customers"),
    )


@query(
    "day_template_fill_events",
    """
    WITH days AS (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                                INTERVAL 1 day))::DATE AS d),
         et AS (SELECT DISTINCT event_type FROM events),
         daily AS (SELECT ts::DATE AS d, event_type, count(*) AS n
                   FROM events GROUP BY 1, 2)
    SELECT strftime(t.d, '%Y-%m-%d') AS day, t.event_type,
           coalesce(n, 0)::BIGINT AS n_events
    FROM (SELECT d, event_type FROM days CROSS JOIN et) t
    LEFT JOIN daily USING (d, event_type)
    """,
)
def day_template_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10/F11/S11: day-template zero-fill, template built cluster-side
    with sequence+explode (hpc_running_cores_and_corehr.py:155-185)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    filled = J.day_template_fill(
        daily, "day", ["event_type"], ["n_events"], start="2024-01-01", end="2024-01-30"
    )
    return filled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type", "n_events"
    )


@query(
    "conditional_counts_events",
    """
    SELECT event_type, count(*) AS n_total,
           sum(CASE WHEN value > 10 THEN 1 ELSE 0 END)::BIGINT AS n_high,
           round(sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) / count(*), 4) AS share_high
    FROM events GROUP BY event_type
    """,
)
def conditional_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 count-if via sum(when) (rucio_datasets_stats.py:317-319)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        A.conditional_count(F.col("value") > 10).alias("n_high"),
        F.round(
            A.conditional_count(F.col("value") > 10) / F.count(F.lit(1)), 4
        ).alias("share_high"),
    )


@query(
    "distinct_users_per_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 exact distinct count (rucio_datasets_monitoring.py:142-148)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "purchase_share_cohort",
    """
    SELECT user_id % 10 AS cohort,
           round(100 * sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
                     / sum(value), 4) AS purchase_share,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id % 10
    """,
)
def purchase_share_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 ratio-of-sums derived metric (CPU-efficiency shape,
    degraded/condor_cpu_efficiency.py:393-420)."""
    ev = _t(spark, sf_dir, "events")
    num = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))
    return ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.round(A.ratio_of_sums(num, F.col("value")), 4).alias("purchase_share"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "collect_set_sources",
    """
    SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def collect_set_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 collect_set + sort_array (rucio_datasets_monitoring.py:275-276)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias("sources"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "two_level_nation_spend",
    """
    WITH lvl1 AS (
      SELECT c_nationkey, o_custkey, sum(o_totalprice) AS spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    )
    SELECT n_name, count(*) AS n_customers,
           round(max(spend), 2) AS max_spend,
           round(min(spend), 2) AS min_spend,
           round(avg(spend), 4) AS avg_spend,
           round(sum(spend), 2) AS sum_spend
    FROM lvl1 JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def two_level_nation_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 two-level re-aggregation (rucio_ds_summary.py:292-334)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    lvl2 = A.two_level_agg(
        joined,
        level1_keys=["c_nationkey", "o_custkey"],
        level1_aggs=[F.sum("o_totalprice").alias("spend")],
        level2_keys=["c_nationkey"],
        level2_aggs=[
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.max("spend"), 2).alias("max_spend"),
            F.round(F.min("spend"), 2).alias("min_spend"),
            F.round(F.avg("spend"), 4).alias("avg_spend"),
            F.round(F.sum("spend"), 2).alias("sum_spend"),
        ],
    )
    return lvl2.join(F.broadcast(n), lvl2.c_nationkey == n.n_nationkey).select(
        "n_name", "n_customers", "max_spend", "min_spend", "avg_spend", "sum_spend"
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@query(
    "pivot_daily_event_values",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           coalesce(round(sum(CASE WHEN event_type = 'click'    THEN value END), 2), 0) AS click,
           coalesce(round(sum(CASE WHEN event_type = 'error'    THEN value END), 2), 0) AS error,
           coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0) AS purchase,
           coalesce(round(sum(CASE WHEN event_type = 'signup'   THEN value END), 2), 0) AS signup,
           coalesce(round(sum(CASE WHEN event_type = 'view'     THEN value END), 2), 0) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_daily_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 pivot rows→columns (reports/aggregate_campaigns.py:181-184);
    pivot values passed explicitly to skip the distinct-values pre-job."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return A.pivot_agg(
        ev, "day", "event_type", F.round(F.sum("value"), 2), pivot_values=_EVENT_TYPES
    )


@query(
    "global_lineitem_stats",
    """
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(DISTINCT l_partkey) AS n_parts,
           strftime(max(l_shipdate), '%Y-%m-%d') AS max_shipdate
    FROM lineitem
    """,
)
def global_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 global (no-key) aggregate (reports/aggregate_leftovers.py:145)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_shipdate"),
    )


@query(
    "time_bucket_12min",
    """
    WITH per_window AS (
      SELECT user_id, (floor(epoch(ts) / 720))::BIGINT * 720 AS w,
             max(value) AS wmax
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(to_timestamp(w), '%Y-%m-%d') AS day,
           round(sum(wmax), 2) AS sum_window_max,
           count(*) AS n_windows
    FROM per_window GROUP BY 1
    """,
)
def time_bucket_12min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W2/T5: the HPC core-hours pattern — max per (unit, 12-min
    tumbling window) then per-day re-aggregation, with F.window replacing
    the reference's epoch-mod arithmetic
    (hpc_running_cores_and_corehr.py:198-227)."""
    ev = _t(spark, sf_dir, "events")
    return A.dedup_then_bin_agg(
        ev,
        ts_col="ts",
        bucket="12 minutes",
        unit_keys=["user_id"],
        unit_value=F.max("value"),
        day_aggs=[
            F.round(F.sum("_wv"), 2).alias("sum_window_max"),
            F.count(F.lit(1)).alias("n_windows"),
        ],
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "sum_window_max",
        "n_windows",
    )


@query(
    "top2_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
    WHERE rn <= 2
    """,
)
def top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 per-group top-k via row_number window — the capability the
    reference lacked and emulated with re-aggregation (SURVEY §2.6)."""
    o = _t(spark, sf_dir, "orders")
    top = A.top_k_per_group(
        o,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=2,
    )
    return top.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn"
    )


@query(
    "sessionize_users",
    """
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL THEN 1
                  WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)) > 1800
                       THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 analytic windows: 30-minute-gap sessionization (the streaming
    session-window semantics, expressed batch-side)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # Go through an explicit LTZ cast first: a TIMESTAMP_NTZ column (newer
    # parquet layouts) cannot cast straight to double, while LTZ→LTZ is a
    # no-op — this stays correct for either physical timestamp type.
    gap = F.col("ts").cast("timestamp").cast("double") - prev.cast("timestamp").cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(F.sum("new_session").alias("n_sessions"))


@query(
    "set_union_nations",
    """
    SELECT c_nationkey AS n_nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 union-dedup (dbs_event_count_plot.py:188-210)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.union(s).distinct()


@query(
    "set_except_nations",
    """
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 EXCEPT/subtract (reports/aggregate_leftovers.py:127-137)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.distinct().subtract(s.distinct())


@query(
    "set_intersect_nations",
    """
    SELECT c_nationkey AS n_nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 INTERSECT (absent in reference, free in Spark)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.intersect(s)


@query(
    "string_funcs_docs",
    """
    SELECT regexp_extract(source, '(\\d+)', 1)::INT AS src_num,
           count(*) AS n_docs,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
    FROM documents GROUP BY 1
    """,
)
def string_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F4/F5: regexp_extract + collect_set of strings."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("src_num", F.regexp_extract("source", r"(\d+)", 1).cast("int"))
        .groupBy("src_num")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.concat_ws(",", F.sort_array(F.collect_set("lang"))).alias("langs"),
        )
    )


@query(
    "date_parts_orders",
    """
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, quarter(o_orderdate) AS q,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY 1, 2, 3
    """,
)
def date_parts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 date-part extraction family (condor_crab_unique_users.py:84-89)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.quarter("o_orderdate").alias("q"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "json_props_extract",
    """
    SELECT event_type,
           count(json_extract_string(props, '$.k')::INT) AS n_k,
           round(avg(json_extract_string(props, '$.k')::INT), 4) AS avg_k,
           max(json_extract_string(props, '$.k')::INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 JSON functions (absent in reference; free in Spark)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(
        F.count("k").alias("n_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# CMS-workflow shapes (SURVEY §3, §7.1-7.2)
# ---------------------------------------------------------------------------

_TIER_SQL = "CASE p_partkey % 3 WHEN 0 THEN 'RAW' WHEN 1 THEN 'AOD' ELSE 'MINIAOD' END"


def _with_dataset_name(part: DataFrame) -> DataFrame:
    """Synthesize CMS dataset names '/primds/procds/tier' from part rows
    so split_dataset semantics (spark_utils.py:727-733) are exercised on
    the synthetic tables."""
    tier = (
        F.when(F.col("p_partkey") % 3 == 0, "RAW")
        .when(F.col("p_partkey") % 3 == 1, "AOD")
        .otherwise("MINIAOD")
    )
    return part.withColumn(
        "dataset",
        F.concat(
            F.lit("/P"),
            (F.col("p_partkey") % 50).cast("string"),
            F.lit("/Proc-v"),
            (F.col("p_partkey") % 3).cast("string"),
            F.lit("/"),
            tier,
        ),
    )


@query(
    "cms_dataset_split",
    f"""
    WITH named AS (
      SELECT '/P' || (p_partkey % 50)::VARCHAR || '/Proc-v' ||
             (p_partkey % 3)::VARCHAR || '/' || {_TIER_SQL} AS dataset
      FROM part
    )
    SELECT string_split(dataset, '/')[4] AS tier,
           count(*) AS n_datasets,
           count(DISTINCT string_split(dataset, '/')[2]) AS n_primds
    FROM named GROUP BY 1
    """,
)
def cms_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 composite dataset-name key split (the off-by-one-sensitive
    operation; SURVEY §7.4)."""
    from cmsspark_spark.functions.cms import split_dataset

    named = _with_dataset_name(_t(spark, sf_dir, "part"))
    split = split_dataset(named)
    return split.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_datasets"),
        F.countDistinct("primds").alias("n_primds"),
    )


@query(
    "cms_parse_dn",
    """
    WITH dns AS (
      SELECT c_nationkey,
             '/DC=ch/OU=Users/CN=user' || (c_custkey % 100)::VARCHAR ||
             '/CN=Person ' || c_name ||
             CASE WHEN c_custkey % 3 = 0
                  THEN '/CN=' || c_custkey::VARCHAR ELSE '' END ||
             CASE WHEN c_custkey % 5 = 0 THEN '&rfc=proxy' ELSE '' END AS dn
      FROM customer
    )
    SELECT c_nationkey AS nationkey,
           count(DISTINCT regexp_extract(split_part(dn, '&', 1),
                 '.*/CN=([^0-9/][^/]*)', 1)) AS n_users
    FROM dns GROUP BY 1
    """,
)
def cms_parse_dn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 parse_dn as a pure column expression with the reference's
    exact semantics (degraded/data_aggregation.py:389-397): the
    synthetic DNs are adversarial — a third get a NUMERIC last CN
    (must be skipped, NUM_PAT), a fifth get an '&rfc=proxy' suffix
    (must be stripped) — so this oracle row pins the numeric-skip and
    &-strip behavior, not just 'take the last segment'."""
    from cmsspark_spark.functions.cms import parse_dn

    c = _t(spark, sf_dir, "customer").withColumn(
        "dn",
        F.concat(
            F.lit("/DC=ch/OU=Users/CN=user"),
            (F.col("c_custkey") % 100).cast("string"),
            F.lit("/CN=Person "),
            F.col("c_name"),
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.concat(F.lit("/CN="), F.col("c_custkey").cast("string")),
            ).otherwise(""),
            F.when(F.col("c_custkey") % 5 == 0, "&rfc=proxy").otherwise(""),
        ),
    )
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.countDistinct(parse_dn("dn")).alias("n_users")
    )


@query(
    "cms_popularity_spine",
    f"""
    SELECT n_name AS site, {_TIER_SQL.replace("p_partkey", "p.p_partkey")} AS tier,
           count(*) AS n_accesses,
           count(DISTINCT p.p_partkey) AS n_datasets,
           round(sum(l_extendedprice), 2) AS bytes_read
    FROM lineitem l JOIN part p     ON l.l_partkey  = p.p_partkey
                    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
                    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def cms_popularity_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minimum end-to-end slice (SURVEY §7.1): dataset popularity —
    access stream (lineitem) ⋈ catalog dims (part=dataset, supplier+
    nation=site), per (site, tier): accesses, distinct datasets, bytes.
    Mirrors data_collection.py:161-174 / data_aggregation.py:69-89 with
    all dims broadcast (the fact table never shuffles before the agg).
    The fact scan is widened: the whole pipeline up to the final agg is
    map-side, so input parallelism is the throughput bound."""
    li = _t(spark, sf_dir, "lineitem", widen=True)
    p = _with_dataset_name(_t(spark, sf_dir, "part")).select("p_partkey", "dataset")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    from cmsspark_spark.functions.cms import split_dataset_col

    _, _, tier = split_dataset_col("dataset")
    # part (dataset catalog analog) and supplier grow with SF — the
    # forced broadcast that was here OOMs at 100×; the size-aware hint
    # falls through to AQE above the threshold. nation is spec-fixed.
    joined = (
        li.join(J.broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(J.broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("site"), tier.alias("tier")
    ).agg(
        F.count(F.lit(1)).alias("n_accesses"),
        F.countDistinct("p_partkey").alias("n_datasets"),
        F.round(F.sum("l_extendedprice"), 2).alias("bytes_read"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (SURVEY §7.2 M8; beyond-reference)
# ---------------------------------------------------------------------------

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
_SHINGLES_SQL = (
    "list_distinct([array_to_string(tk[i:i+2], ' ') "
    "for i in generate_series(1, greatest(len(tk)-2, 1))])"
)


@query(
    "dedup_exact_fingerprint",
    f"""
    SELECT md5(array_to_string({_TOKS_SQL}, ' ')) AS fp,
           min(doc_id) AS survivor_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (hash-groupBy): md5 of the
    normalized token stream; survivor = min doc_id."""
    d = _t(spark, sf_dir, "documents")
    return D.dedup_by_fingerprint(d, "doc_id", T.fingerprint("text"))


def _minhash_oracle_sql(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """Oracle twin of operators.dedup.minhash_lsh_pairs, generated from
    the SAME permutation constants (minhash_params) the Spark plan uses."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + j}" for j in range(rows_per_band)),
        )
        for b in range(nbands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: 3-word shingles, 8 md5-based
    minhashes, 4 bands × 2 rows. The 100 TB dedup path: candidates come
    from a bucket join on (band, signature), never all-pairs."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )


def _lsh_verified_oracle_sql(
    num_hashes: int = 8, rows_per_band: int = 2, threshold: float = 0.5
) -> str:
    """Oracle twin of the LSH→verify composition: the minhash-LSH
    candidate CTEs (same permutation constants as the Spark plan)
    feeding an exact-Jaccard verification restricted to candidates."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + j}" for j in range(rows_per_band)),
        )
        for b in range(nbands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS nc
      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(nc / (sa.n + sb.n - nc), 4) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
    WHERE nc / (sa.n + sb.n - nc) >= {threshold}
    """


@query("dedup_lsh_verified", _lsh_verified_oracle_sql())
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE scale dedup path (round-1 verdict #5): MinHash-LSH candidate
    generation (bucket join on (band, signature) — never all-pairs)
    composed with candidate-pruned exact n-gram Jaccard verification
    (work linear in Σ|shingles(candidate docs)|). This is the
    composition a 100 TB corpus runs; exact all-pairs Jaccard
    (dedup_ngram_jaccard) stays registered as the sf0.01 oracle twin
    of the verifier only."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 4) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
    WHERE c / (sa.n + sb.n - c) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.5 (the verifier that runs on LSH
    candidates at scale; exact all-overlapping-pairs here)."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "text_quality_by_source",
    f"""
    WITH q AS (
      SELECT source, {_TOKS_SQL} AS tk, text FROM documents
    )
    SELECT source, count(*) AS n_docs,
           round(avg(len(tk)), 4) AS avg_tokens,
           round(avg(len(list_filter(tk, t -> list_contains(
             ['the','a','an','of','and','or','is','in','to','it'], t)))
             / greatest(len(tk), 1)), 4) AS avg_stopword_ratio,
           round(avg(length(array_to_string(tk, '')) / greatest(len(tk), 1)), 4)
             AS avg_token_len
    FROM q GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token counts, stopword ratio, mean token
    length — all JVM-side column expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(T.token_count("text")), 4).alias("avg_tokens"),
        F.round(F.avg(T.stopword_ratio("text")), 4).alias("avg_stopword_ratio"),
        F.round(F.avg(T.mean_token_length("text")), 4).alias("avg_token_len"),
    )


_MARKER_SQL = {
    "de": "['der','die','das','und','ist']",
    "en": "['the','a','of','and','is']",
    "es": "['el','la','los','y','es']",
    "fr": "['le','la','les','et','est']",
}
_HITS_SQL = {
    lang: f"len(list_filter(tk, t -> list_contains({lst}, t)))"
    for lang, lst in _MARKER_SQL.items()
}

@query(
    "text_langid_confusion",
    f"""
    WITH scored AS (
      SELECT lang,
             {_HITS_SQL['de']} AS de_h, {_HITS_SQL['en']} AS en_h,
             {_HITS_SQL['es']} AS es_h, {_HITS_SQL['fr']} AS fr_h
      FROM (SELECT lang, {_TOKS_SQL} AS tk FROM documents)
    )
    SELECT lang,
           CASE WHEN de_h >= en_h AND de_h >= es_h AND de_h >= fr_h THEN 'de'
                WHEN en_h >= es_h AND en_h >= fr_h THEN 'en'
                WHEN es_h >= fr_h THEN 'es'
                ELSE 'fr' END AS pred,
           count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word argmax, first-on-tie) —
    confusion counts of actual vs predicted language."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", T.lang_id("text").alias("pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "multimodal_features",
    """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS checksum,
           substring(md5(text), 1, 2) || substring(md5(text), 31, 2) ||
             printf('%08x', octet_length(encode(text))) AS feature
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload column → Arrow-batched
    mapInPandas feature extraction (decode stubbed deterministically —
    FakeDecoder); schema/batching/partitioning are the real thing."""
    d = _t(spark, sf_dir, "documents")
    with_payload = M.attach_binary_payload(d, "text")
    feats = M.extract_features(with_payload, id_col="doc_id", max_parallelism=8)
    return feats.select("doc_id", "n_bytes", "checksum", "feature")


@query(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
         s AS (SELECT qid, cid,
                      list_inner_product(ce, qe)
                      / (sqrt(list_inner_product(ce, ce))
                         * sqrt(list_inner_product(qe, qe))) AS cos
               FROM q CROSS JOIN c WHERE cid <> qid),
         r AS (SELECT qid AS query_id, cid AS vec_id, cos,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, cid) AS rank
               FROM s)
    SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
    FROM r WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: exact brute-force cosine top-5 for 5
    query vectors — broadcast queries, zip_with/aggregate dot products,
    per-query window top-k. All JVM-side."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


@query(
    "anti_join_unshipped_orders",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                             WHERE l_shipdate >= TIMESTAMP '1997-01-01')
    GROUP BY o_orderstatus
    """,
)
def anti_join_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 anti-join with guaranteed non-empty output (orders whose
    lineitems all shipped before 1997)."""
    o = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    left = J.anti_join(o, li, on=["o_orderkey"])
    return left.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


@query(
    "filter_like_rlike",
    """
    SELECT count(*) AS n_parts,
           sum(CASE WHEN p_name LIKE 'red%' THEN 1 ELSE 0 END)::BIGINT AS n_red,
           sum(CASE WHEN regexp_matches(p_name, '(bolt|widget)$') THEN 1 ELSE 0 END)::BIGINT
             AS n_bolt_widget
    FROM part
    WHERE p_name LIKE '%e%' AND NOT regexp_matches(p_name, '^small')
    """,
)
def filter_like_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 string predicates: like / rlike incl. negation
    (condor_crab_unique_users.py:76-82, dbs_lfn.py:51-53)."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%e%") & ~F.col("p_name").rlike("^small")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_parts"),
        A.conditional_count(F.col("p_name").like("red%")).alias("n_red"),
        A.conditional_count(F.col("p_name").rlike("(bolt|widget)$")).alias(
            "n_bolt_widget"
        ),
    )


@query(
    "dedup_keep_first",
    """
    WITH ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id) AS rn
      FROM events
    )
    SELECT event_type, count(*) AS n_rows, round(sum(value), 2) AS sum_value
    FROM ranked WHERE rn = 1 GROUP BY event_type
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 dedup-by-key with DETERMINISTIC survivor (min event_id) — the
    engine's replacement for dropDuplicates' arbitrary row choice
    (degraded/condor_cpu_efficiency.py:378)."""
    ev = _t(spark, sf_dir, "events")
    kept = D.exact_dedup(ev, ["user_id", "event_type"], tie_breaker="event_id")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SITE_SQL = (
    "'T' || (s_suppkey % 3)::VARCHAR || '_CH_CERN' || "
    "CASE WHEN s_suppkey % 4 = 0 THEN '_HLT' ELSE '' END"
)


@query(
    "site_normalize_when",
    f"""
    WITH sites AS (SELECT {_SITE_SQL} AS site FROM supplier),
    cleaned AS (
      SELECT site,
             CASE WHEN len(string_split(site, '_')) > 3
                  THEN array_to_string(string_split(site, '_')[1:3], '_')
                  ELSE site END AS clean_site,
             string_split(site, '_')[1] AS site_tier
      FROM sites
    )
    SELECT site_tier, clean_site, count(*) AS n
    FROM cleaned GROUP BY 1, 2
    """,
)
def site_normalize_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/D1 conditional normalization: the reference's 13-branch
    when/otherwise site cleanup (hpc_running_cores_and_corehr.py:113-126,
    data_aggregation.py:374-387) as pure column expressions."""
    from cmsspark_spark.functions.cms import clean_site_name, tier_from_site

    s = _t(spark, sf_dir, "supplier").withColumn(
        "site",
        F.concat(
            F.lit("T"),
            (F.col("s_suppkey") % 3).cast("string"),
            F.lit("_CH_CERN"),
            F.when(F.col("s_suppkey") % 4 == 0, "_HLT").otherwise(""),
        ),
    )
    return s.groupBy(
        tier_from_site("site").alias("site_tier"),
        clean_site_name("site").alias("clean_site"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "path_parse_funcs",
    """
    WITH paths AS (
      SELECT 'file:/store/data/' || year(o_orderdate)::VARCHAR || '/' ||
             o_orderkey::VARCHAR || '.root' AS raw, o_orderkey
      FROM orders
    ),
    parsed AS (
      SELECT regexp_replace(raw, '^file:', '') AS path,
             string_split(regexp_replace(raw, '^file:', ''), '/')[-1] AS fname,
             o_orderkey
      FROM paths
    )
    SELECT string_split(path, '/')[4] AS year_dir,
           count(*) AS n,
           sum(CASE WHEN fname = o_orderkey::VARCHAR || '.root' THEN 1 ELSE 0 END)::BIGINT
             AS n_roundtrip
    FROM parsed GROUP BY 1
    """,
)
def path_parse_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F6: regexp_replace prefix strip (spark_utils.py:394) +
    substring_index path parsing (rucio_daily.py:47-48)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "raw",
        F.concat(
            F.lit("file:/store/data/"),
            F.year("o_orderdate").cast("string"),
            F.lit("/"),
            F.col("o_orderkey").cast("string"),
            F.lit(".root"),
        ),
    )
    parsed = o.withColumn("path", F.regexp_replace("raw", "^file:", "")).withColumn(
        "fname", F.substring_index("path", "/", -1)
    )
    return parsed.groupBy(
        F.split("path", "/").getItem(3).alias("year_dir")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        A.conditional_count(
            F.col("fname") == F.concat(F.col("o_orderkey").cast("string"), F.lit(".root"))
        ).alias("n_roundtrip"),
    )


@query(
    "greatest_last_access",
    """
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN ts END) AS click_ts,
             max(CASE WHEN event_type = 'view'  THEN ts END) AS view_ts
      FROM events GROUP BY user_id
    )
    SELECT strftime(greatest(click_ts, view_ts), '%Y-%m-%d') AS last_day,
           count(*) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def greatest_last_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 greatest-of-columns with null semantics pinned (both engines
    skip nulls unless all-null — SURVEY §7.4 risk item;
    rucio_ds_summary.py:214-219 last-access coalescing)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("click_ts"),
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("view_ts"),
    )
    return per_user.groupBy(
        F.date_format(F.greatest("click_ts", "view_ts"), "yyyy-MM-dd").alias("last_day")
    ).agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "rollup_revenue",
    """
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
           grouping(year(o_orderdate))::INT * 2 + grouping(month(o_orderdate))::INT AS gid,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), month(o_orderdate))
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 grouping-sets family (absent in the reference, which ran one
    groupBy per granularity — degraded/dbs_condor.py:146-190; rollup
    computes all levels in one pass)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m"))
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select("y", "m", "gid", "n_orders", "revenue")
    )


@query(
    "union_frames_by_name",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus, NULL AS o_custkey
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_totalprice, NULL, o_custkey
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT count(*) AS n_rows,
           count(o_orderstatus) AS n_with_status,
           count(o_custkey) AS n_with_cust,
           round(sum(o_totalprice), 2) AS total
    FROM unioned
    """,
)
def union_frames_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union of heterogeneous frames by NAME with missing-column
    fill — the engine's fix for the reference's positional union_all
    (spark_utils.py:98-109; SURVEY §7.4)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.count("o_custkey").alias("n_with_cust"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_BPE_RE_SQL = "'[a-z0-9]+|[^a-z0-9\\s]'"


@query(
    "bpe_token_stats",
    f"""
    SELECT source,
           count(*) AS n_docs,
           round(avg(len(regexp_extract_all(lower(text), {_BPE_RE_SQL}))), 4)
             AS avg_bpe_tokens,
           max(len(regexp_extract_all(lower(text), {_BPE_RE_SQL}))) AS max_bpe_tokens
    FROM documents GROUP BY source
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (training-data op: word runs +
    punctuation singletons, the GPT-2 pre-tokenizer shape)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(T.bpe_token_count("text")), 4).alias("avg_bpe_tokens"),
        F.max(T.bpe_token_count("text")).alias("max_bpe_tokens"),
    )


def _rolling_fp_sql() -> str:
    from cmsspark_spark.functions.text import ROLLING_B, ROLLING_P

    base = "('0x' || substring(md5(t), 1, 15))::BIGINT % 2147483648"
    return f"""
    WITH fps AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                            list_transform({_TOKS_SQL}, t -> {base})),
               (acc, x) -> (acc * {ROLLING_B} + x) % {ROLLING_P}) AS fp
      FROM documents
    )
    SELECT fp, min(doc_id) AS survivor_id, count(*) AS n_dups
    FROM fps GROUP BY fp
    """


@query("dedup_rolling_fingerprint", _rolling_fp_sql())
def dedup_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (polynomial
    fold over the token stream) → exact-dedup report. Oracle SQL is
    generated from the same B/P constants."""
    d = _t(spark, sf_dir, "documents")
    return D.dedup_by_fingerprint(d, "doc_id", T.rolling_fingerprint("text"))


@query(
    "embed_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 4 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
          / (sqrt(list_inner_product(a.v, a.v))
             * sqrt(list_inner_product(b.v, b.v))) >= 0.3
    """,
)
def embed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact baseline on a bounded
    subset (all-pairs is the verifier; the corpus path is
    embed_near_dup_lsh)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    pairs = S.cosine_near_pairs(emb, threshold=0.3)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(
    "stepchain_cpu_eff",
    """
    WITH steps AS (
      SELECT l_orderkey,
             CASE l_linenumber % 3 WHEN 0 THEN 'cmsRun1'
                  WHEN 1 THEN 'stageOut1' ELSE 'logArch1' END AS name,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS cpu_s,
             CAST(round(l_extendedprice * 100) AS BIGINT) * 100 AS wall_s
      FROM lineitem
    ),
    per_order AS (
      SELECT l_orderkey,
             (100000000 * sum(cpu_s) + sum(wall_s) // 2) // sum(wall_s)
               AS eff_micro,
             count(*) AS n_steps
      FROM steps WHERE lower(name) LIKE 'cmsrun%'
      GROUP BY l_orderkey
    )
    SELECT count(*) AS n_orders,
           round(CAST(sum(eff_micro) AS DOUBLE)
                 / (1000000.0 * count(*)), 4) AS avg_eff,
           CAST(sum(n_steps) AS BIGINT) AS n_cmsrun_steps
    FROM per_order
    """,
)
def stepchain_cpu_eff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 UDTF-equivalent: WMArchive-shaped nested records (array of
    step structs) exploded to rows with F.explode instead of the
    reference's RDD flatMap (degraded/stepchain_cpu_eff.py:66-107,
    wmarchive.py:108-144), then the cmsRun-prefix filter and the
    per-workflow CPU-efficiency ratio. The step array is packed
    row-locally in the select (fused pack: no collect_list shuffle —
    the grouped pack→explode roundtrip is exercised by
    tests/test_workflows.py::test_pack_explode_roundtrip instead, after
    round 3's bench showed the both-ways roundtrip costing 2.26× the
    round-1 time).

    FP determinism: this query's first two formulations flipped the
    driver's full-precision value hash (rounds 1 AND 2) because a double
    ``avg`` over ~10k ratios is summation-order dependent and Spark/
    DuckDB disagree in the low bits. Now every aggregate is an exact
    int64 sum (price/discount are 2-decimal values → exact cents), the
    per-order efficiency is a half-up *integer* division in micro-units,
    and the only floating-point op is one final division performed
    identically on both sides — bit-deterministic regardless of
    partitioning or summation order."""
    from cmsspark_spark.operators import nested as N

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    nested_df = li.select(
        "l_orderkey",
        F.array(
            F.struct(
                F.when(F.col("l_linenumber") % 3 == 0, "cmsRun1")
                .when(F.col("l_linenumber") % 3 == 1, "stageOut1")
                .otherwise("logArch1")
                .alias("name"),
                (cents * (100 - disc_pct)).alias("cpu_s"),
                (cents * 100).alias("wall_s"),
            )
        ).alias("steps"),
    )
    steps = N.explode_steps(nested_df, "steps", keep=["l_orderkey"])
    cms = N.filter_steps_by_name(steps, "name", "cmsrun")
    per_order = cms.groupBy("l_orderkey").agg(
        F.expr(
            "(100000000L * sum(cpu_s) + sum(wall_s) div 2) div sum(wall_s)"
        ).alias("eff_micro"),
        F.count(F.lit(1)).alias("n_steps"),
    )
    return per_order.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "round(CAST(sum(eff_micro) AS DOUBLE) / (1000000.0D * count(1)), 4)"
        ).alias("avg_eff"),
        F.sum("n_steps").alias("n_cmsrun_steps"),
    )


@query(
    "file_provenance",
    """
    SELECT 'nation.parquet' AS src_file,
           count(*) AS n_rows, count(DISTINCT n_nationkey) AS n_keys
    FROM nation
    """,
)
def file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 file-provenance column: derive source file from the scan
    (rucio_daily.py:39-48 input_file_name + substring_index)."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        n.withColumn(
            "src_file", F.substring_index(F.input_file_name(), "/", -1)
        )
        .groupBy("src_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("n_nationkey").alias("n_keys"),
        )
    )


_PRIORITY_MAP = {"click": "low", "view": "low", "purchase": "high", "signup": "high", "error": "critical"}


@query(
    "value_remap_replace",
    """
    SELECT CASE event_type WHEN 'click' THEN 'low' WHEN 'view' THEN 'low'
                WHEN 'purchase' THEN 'high' WHEN 'signup' THEN 'high'
                WHEN 'error' THEN 'critical' ELSE event_type END AS priority,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def value_remap_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 value remap via dict (degraded/
    rucio_datasets_last_access_ts.py:235 ``.replace(rses_id_name_map)``)
    — DataFrame.replace compiles to a CASE chain, staying in codegen."""
    ev = _t(spark, sf_dir, "events").replace(_PRIORITY_MAP, subset=["event_type"])
    return ev.groupBy(F.col("event_type").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "month_key_formatting",
    """
    SELECT year(o_orderdate)::VARCHAR || '-' ||
             lpad(month(o_orderdate)::VARCHAR, 2, '0') AS month_key,
           printf('%04d/%02d', year(o_orderdate), month(o_orderdate)) AS month_path,
           count(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
)
def month_key_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 concat_ws/lpad/format_string month-key building
    (hpc_running_cores_and_corehr.py:133-135, dbs_event_count_plot.py:
    177-179)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.concat_ws(
            "-",
            F.year("o_orderdate").cast("string"),
            F.lpad(F.month("o_orderdate").cast("string"), 2, "0"),
        ).alias("month_key"),
        F.format_string(
            "%04d/%02d", F.year("o_orderdate"), F.month("o_orderdate")
        ).alias("month_path"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "pandas_grouped_median",
    """
    SELECT event_type, round(median(value), 4) AS median_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def pandas_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 UDAF surface (absent in the reference; SURVEY §2.10 maps it to
    pandas_udf GROUPED_AGG): an Arrow-batched grouped-aggregate median.
    pandas' linear-interpolated median == DuckDB's quantile_cont(0.5).
    The UDF body is self-contained (pickled by value — no package import
    on executors)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module uses postponed annotations,
    # which the type-hint-based pandas_udf introspection can't resolve
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_udaf(v):
        return float(v.median())

    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg, so the count is a second pandas aggregate.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def count_udaf(v):
        return len(v)

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(median_udaf("value"), 4).alias("median_value"),
        count_udaf("value").alias("n"),
    )


@query(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (F.percentile == DuckDB
    quantile_cont). At 100 TB swap for approx_percentile — same plan
    shape, bounded memory."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
    )


@query(
    "salted_hot_key_agg",
    """
    SELECT event_type, round(sum(value), 2) AS total,
           round(sum(value) / count(*), 4) AS mean_value
    FROM events GROUP BY event_type
    """,
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: two-phase salted groupBy produces
    byte-identical results to the plain aggregate (the oracle IS the
    plain form). event_type has only 5 values — exactly the hot-key
    shape where one reducer would take a key's entire volume."""
    from cmsspark_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        partial_aggs=[
            F.sum("value").alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        ],
        final_aggs=[
            F.round(F.sum("_s"), 2).alias("total"),
            F.round(F.sum("_s") / F.sum("_c"), 4).alias("mean_value"),
        ],
    )


@query(
    "campaign_site_argmax",
    """
    WITH p AS (
      SELECT user_id % 20 AS cohort,
             coalesce(sum(CASE WHEN event_type='click'    THEN value END), 0) AS click,
             coalesce(sum(CASE WHEN event_type='error'    THEN value END), 0) AS error,
             coalesce(sum(CASE WHEN event_type='purchase' THEN value END), 0) AS purchase,
             coalesce(sum(CASE WHEN event_type='signup'   THEN value END), 0) AS signup,
             coalesce(sum(CASE WHEN event_type='view'     THEN value END), 0) AS view
      FROM events GROUP BY 1
    )
    SELECT cohort,
           round(greatest(click, error, purchase, signup, view), 2) AS max_value,
           CASE greatest(click, error, purchase, signup, view)
                WHEN click THEN 'click' WHEN error THEN 'error'
                WHEN purchase THEN 'purchase' WHEN signup THEN 'signup'
                ELSE 'view' END AS top_type
    FROM p
    """,
)
def campaign_site_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/D2 struct-argmax idiom (reports/aggregate_campaigns.py:
    189-199: per campaign, the max over pivoted site columns and WHICH
    site it was): pivot → rowwise greatest + first-match argmax, as
    pure column expressions instead of the reference's struct-input
    Python UDFs. Tie resolution: first column in fixed order — both
    engines use the same order."""
    ev = _t(spark, sf_dir, "events")
    p = A.pivot_agg(
        ev.withColumn("cohort", F.col("user_id") % 20),
        "cohort",
        "event_type",
        F.sum("value"),
        pivot_values=_EVENT_TYPES,
    )
    mx = F.greatest(*[F.col(t) for t in _EVENT_TYPES])
    argmax = F.coalesce(
        *[F.when(F.col(t) == mx, F.lit(t)) for t in _EVENT_TYPES]
    )
    return p.select(
        "cohort",
        F.round(mx, 2).alias("max_value"),
        argmax.alias("top_type"),
    )


@query(
    "asof_join_last_click",
    """
    WITH trades AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
         quotes AS (SELECT user_id, ts, value AS click_value FROM events
                    WHERE event_type = 'click')
    SELECT t.user_id,
           count(*) AS n_purchases,
           count(click_value) AS n_with_prior_click,
           round(coalesce(sum(click_value), 0), 2) AS sum_click_value
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    GROUP BY t.user_id
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent in Spark AND the reference; SURVEY §2.4):
    each purchase matched to the user's latest prior click, via the
    scalable union+window form (one keyed shuffle, no per-key cross
    product). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from cmsspark_spark.operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events")
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    quotes = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    joined = as_of_join(
        trades, quotes, on=["user_id"], left_ts="ts", right_ts="ts"
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("click_value").alias("n_with_prior_click"),
        F.round(F.coalesce(F.sum("click_value"), F.lit(0.0)), 2).alias(
            "sum_click_value"
        ),
    )


_SQL_ENTRY = """
    SELECT n_name AS nation,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("sql_entry_supplier_stats", _SQL_ENTRY)
def sql_entry_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.2 entry point B: SQL-string query over registered temp
    views (the reference's classic style — catalog population via
    registerTempTable then sqlContext.sql). The SAME text runs in Spark
    and DuckDB."""
    catalog.register_views(spark, sf_dir, ["supplier", "nation"])
    return spark.sql(_SQL_ENTRY)


# --- rows-only checks (no SQL-expressible oracle) --------------------------


@query("embed_near_dup_lsh")  # oracle attached below (generated SQL)
def embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: sign-LSH bucket self-join for
    candidates, exact cosine re-score. Approximate vs the exact
    baseline (recall/precision-gated in tests/test_similarity.py) yet
    deterministic in practice — the seeded hyperplanes are plan
    literals, so a generated DuckDB twin (ORACLES assignment at module
    end) reproduces candidates AND cosines. (The arrow impl's BLAS
    summation order can in principle flip a sign on a plane dot within
    float error of 0 — measure-zero for continuous embeddings; pin
    impl='sql' for a hard bucket guarantee.)"""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.cosine_near_pairs_lsh(emb, dim=64, threshold=0.3, num_planes=4, tables=8)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query("ann_lsh_topk")  # oracle attached below (generated SQL)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: sign-LSH bucketing + exact re-score on candidates.
    Approximate vs brute force (recall ≥ 0.6 gated in tests) yet
    deterministic in practice — seeded planes give a generated DuckDB
    twin (ORACLES assignment at module end); see embed_near_dup_lsh's
    docstring for the arrow-impl sign-order caveat."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.lsh_topk(emb, queries, dim=64, k=5, num_planes=4, tables=4)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


@query("ann_ivf_topk")  # oracle: audit-style, assigned below the def
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — k-means centroids (driver-trained on a bounded
    sample), cluster-side inverted-list assignment, nprobe-list exact
    re-score — as a RECALL AUDIT row (r10, retiring the rows-only
    class; pattern: ann_ladder_recall_report). The trained arm's raw
    top-k is sample-dependent and not SQL-replayable, so the scored
    columns are the brute-force truth size (both engines compute it —
    the oracle reuses ann_cosine_topk's SQL verbatim) and the verdict
    ``recall_ok = recall@5 ≥ 0.4`` (the same floor
    tests/test_similarity.py::test_ivf_recall_vs_brute_force gates).
    Execution: truth and arm reduce to TWO bounded scalars (counts);
    the 1-row report is assembled engine-side."""
    from concurrent.futures import ThreadPoolExecutor

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    # both sides are top-k lists — bounded at |queries|·k rows — so
    # the recall join is a driver-side set intersection over collected
    # id pairs (same discipline as ann_ladder_recall_report: exact
    # integer counting, byte-identical to the left-semi count jobs it
    # replaces, minus two Spark jobs of scheduling/analysis overhead);
    # the brute-force truth arm is independent of the trained arm, so
    # it runs as a concurrent driver job and overlaps the centroid
    # training + probe serve (guide §2.6)
    def _truth_rows() -> list:
        return (
            QUERIES["ann_cosine_topk"](spark, sf_dir)
            .select("query_id", "vec_id")
            .collect()
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        f_truth = pool.submit(_truth_rows)
        # train on the UN-widened scan: the bounded
        # limit(sample).collect() must not pay the widening
        # repartition (a full vector shuffle ahead of a 2048-row take
        # — measured ~10x the sample cost).
        cents = S.train_ivf_centroids(
            _t(spark, sf_dir, "embeddings", widen=False), n_centroids=8
        )
        got = {
            (r.query_id, r.vec_id)
            for r in S.ivf_topk(emb, queries, cents, k=5, nprobe=3)
            .select("query_id", "vec_id")
            .collect()
        }
        truth = f_truth.result()
    n_truth = len(truth)
    n_hit = sum(1 for r in truth if (r.query_id, r.vec_id) in got)
    return local_frame(
        spark,
        [(n_truth, n_hit * 10 >= n_truth * 4)],
        "n_truth: bigint, recall_ok: boolean",
    )


ORACLES["ann_ivf_topk"] = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_truth, true AS recall_ok
    FROM ({ORACLES["ann_cosine_topk"]})
"""


@query(
    "dedup_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id,
             ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(generate_series(0, 15)) AS b) b
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (16-bit token-vote) per document, now
    oracle-backed: the DuckDB twin unrolls the same md5-derived token
    hash, per-bit +1/-1 votes and sign-vector assembly in pure SQL
    (the cross join against generate_series(0,15) is the oracle-side
    price of bit-level hashing — the Spark side stays one explode +
    one groupBy). Near-pair extraction via Hamming-block self-join is
    in operators/dedup.simhash_near_pairs (unit-tested)."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash(d, "doc_id", "text", bits=16).withColumnRenamed("_id", "doc_id")


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 at scale: approx_count_distinct (HLL) — the 100 TB variant
    of exact distinct — as an AUDIT-STYLE oracle row (r10, retiring
    the rows-only class): the sketch's raw answer is engine-specific,
    so the scored columns are the EXACT side (computed independently
    by both engines) plus the error-bound verdict ``approx_ok =
    |approx − exact| ≤ 5% · exact`` (5σ on the configured 1% rsd —
    the same gate test_approx_distinct_users_error_gate applies in
    pytest). The oracle asserts the contract (``true``); a broken
    sketch flips the boolean and the row goes red. Plan: ONE pass —
    both aggregates share the groupBy."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("_approx") - F.col("n_exact"))
                <= F.lit(0.05) * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )


_DUCK_BIGRAMS = (
    "[array_to_string(tk[i:i+1], ' ') "
    "for i in generate_series(1, greatest(len(tk)-1, 1))]"
)


@query(
    "text_repetition_quality",
    f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id, source, tk, {_DUCK_BIGRAMS} AS bg FROM toks),
    topt AS (
      SELECT doc_id, max(c) AS top_tok FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(tk) AS t FROM g) GROUP BY doc_id, t
      ) GROUP BY doc_id
    ),
    topb AS (
      SELECT doc_id, max(c) AS top_bg FROM (
        SELECT doc_id, b, count(*) AS c
        FROM (SELECT doc_id, unnest(bg) AS b FROM g) GROUP BY doc_id, b
      ) GROUP BY doc_id
    ),
    f AS (
      SELECT g.source,
             1.0 - len(list_distinct(tk)) / greatest(len(tk), 1) AS dup_ratio,
             coalesce(topt.top_tok, 0) / greatest(len(tk), 1) AS ttf,
             coalesce(topb.top_bg, 0) / greatest(len(bg), 1) AS tbf
      FROM g LEFT JOIN topt USING (doc_id) LEFT JOIN topb USING (doc_id)
    )
    SELECT source,
           round(avg(dup_ratio), 4) AS avg_dup_token_ratio,
           round(avg(ttf), 4)       AS avg_top_token_frac,
           round(avg(tbf), 4)       AS avg_top_bigram_frac,
           round(max(ttf), 4)       AS max_top_token_frac
    FROM f GROUP BY source
    """,
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality filters
    (dup-token ratio, top-token/top-bigram fraction) aggregated per
    source — a narrow-map quality pass, no shuffle until the final
    tiny groupBy."""
    d = _t(spark, sf_dir, "documents")
    feats = T.repetition_features("text")
    per_doc = d.select(
        "source",
        feats["dup_token_ratio"].alias("dup_ratio"),
        feats["top_token_frac"].alias("ttf"),
        feats["top_bigram_frac"].alias("tbf"),
    )
    return per_doc.groupBy("source").agg(
        F.round(F.avg("dup_ratio"), 4).alias("avg_dup_token_ratio"),
        F.round(F.avg("ttf"), 4).alias("avg_top_token_frac"),
        F.round(F.avg("tbf"), 4).alias("avg_top_bigram_frac"),
        F.round(F.max("ttf"), 4).alias("max_top_token_frac"),
    )


@query(
    "hash_split_assign",
    """
    WITH b AS (
      SELECT source,
             ('0x' || substring(md5(text), 1, 15))::BIGINT
               % 2147483648 % 100 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY source, split
    """,
)
def hash_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed train/val/test split (80/10/10):
    stable under re-sharding/re-ordering — the leak-free split a
    training pipeline needs. Assignment is a narrow map; only the
    audit count shuffles."""
    d = _t(spark, sf_dir, "documents")
    split = T.hash_split("text", {"train": 80, "val": 90, "test": 100})
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "pii_redaction_audit",
    r"""
    WITH r AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
               '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g') AS redacted
      FROM documents
    )
    SELECT count(*) AS n_docs,
           sum(CASE WHEN redacted <> text THEN 1 ELSE 0 END)::BIGINT
             AS n_redacted,
           sum(length(text) - length(redacted))::BIGINT AS chars_removed
    FROM r
    """,
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: email/phone/IPv4 → typed tags (chained
    replace-all regexes, JVM-side), counting touched docs and removed
    chars. Synthetic corpus contains no PII — the audit proving that
    (zeros) is the point; redaction behavior itself is pinned on
    crafted strings in tests/test_functions.py."""
    d = _t(spark, sf_dir, "documents")
    red = d.select("text", T.pii_redact("text").alias("redacted"))
    return red.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("redacted") != F.col("text"), 1).otherwise(0)).alias(
            "n_redacted"
        ),
        F.sum(F.length("text") - F.length("redacted")).alias("chars_removed"),
    )


@query(
    "hash_sample_docs",
    """
    SELECT source, count(*) AS n_kept,
           round(avg(octet_length(encode(text))), 4) AS avg_bytes
    FROM documents
    WHERE ('0x' || substring(md5(text), 1, 15))::BIGINT
            % 2147483648 % 10000 < 1000
    GROUP BY source
    """,
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% content-keyed downsample (reproducible across
    engines/re-shards, unlike seeded df.sample) with a per-source audit.
    The predicate is a narrow filter — at 100 TB it runs in the scan
    stage with zero extra passes."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(T.hash_sample("text", 0.10))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg(F.octet_length("text")), 4).alias("avg_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Round 2 additions: dedup clustering, daily-fold stats, quality funnel
# ---------------------------------------------------------------------------


def _components_oracle_sql() -> str:
    """Recursive-CTE oracle for duplicate clustering: transitive closure
    over the LSH-verified pair graph, component = min reachable id."""
    return f"""
    WITH RECURSIVE pairs AS ({_lsh_verified_oracle_sql()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """


@query("dedup_cluster_components", _components_oracle_sql())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: LSH-verified pairs → connected
    components by min-label propagation (operators/dedup.py). The
    component label is the minimum member doc_id — the canonical
    survivor a dedup pipeline keeps. The oracle is a DuckDB recursive
    CTE computing the same transitive closure."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


def _quality_survivors_oracle_sql() -> str:
    """Composed from the components oracle: per near-dup cluster, the
    keep-longest survivor election (max tokens, ties → min doc_id)."""
    return f"""
    WITH comp AS ({_components_oracle_sql()}),
    tq AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents),
    m AS (
      SELECT c.component, c.doc_id, t.n_tokens
      FROM comp c JOIN tq t USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY component ORDER BY n_tokens DESC, doc_id) AS rn
      FROM m
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_members
      FROM m GROUP BY 1
    )
    SELECT s.component, s.n_members,
           r.doc_id AS survivor_id,
           CAST(r.n_tokens AS BIGINT) AS survivor_tokens
    FROM sizes s JOIN ranked r ON r.component = s.component AND r.rn = 1
    """


@query("dedup_quality_survivors", _quality_survivors_oracle_sql())
def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor election over near-dup clusters: the
    production dedup move AFTER clustering — instead of keeping the
    min-id member (the component label), keep the BEST member of each
    cluster. Here "best" is the common keep-longest policy (max token
    count, ties → min doc_id — deterministic under repartitioning);
    swap in any scalar quality score (Gopher gate, classifier) without
    changing the plan shape. Per cluster: member count, survivor id,
    survivor token count.

    Plan: the LSH→verify→components machinery is the bucketed ids-only
    path proven at scale elsewhere; the election itself is one
    struct-max aggregate over the (tiny) cluster-membership table — a
    single combiner-friendly shuffle, no window sort. Oracle composed
    from the components oracle so the two can never drift."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    from cmsspark_spark.functions.text import tokens as _tokens

    tq = d.select(
        F.col("doc_id").alias("node"),
        F.size(_tokens("text")).cast("long").alias("n_tokens"),
    )
    m = comp.join(tq, on="node")
    best = F.max(
        F.struct(
            F.col("n_tokens"),
            (-F.col("node")).alias("_neg"),
            F.col("node").alias("_id"),
        )
    )
    return (
        m.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            best.alias("_b"),
        )
        .select(
            "component",
            "n_members",
            F.col("_b._id").alias("survivor_id"),
            F.col("_b.n_tokens").alias("survivor_tokens"),
        )
    )


@query(
    "phedex_daily_fold",
    """
    WITH daily AS (
      SELECT event_type, user_id % 10 AS cohort, CAST(ts AS DATE) AS d,
             CAST(round(round(sum(value), 6) * 1000000, 0) AS BIGINT) AS tu
      FROM events GROUP BY 1, 2, 3
    ),
    marked AS (
      SELECT *, max(d) OVER (PARTITION BY event_type, cohort) AS maxd
      FROM daily
    )
    SELECT event_type, cohort,
           count(*) AS days,
           CAST(min(d) AS VARCHAR) AS min_date,
           CAST(max(d) AS VARCHAR) AS max_date,
           round(max(tu) / 1e6, 4) AS max_daily,
           round(max(CASE WHEN d = maxd THEN tu END) / 1e6, 4) AS last_daily,
           round(coalesce(
                   sum(CASE WHEN d <> maxd THEN tu END)
                     / count(CASE WHEN d <> maxd THEN tu END),
                   max(tu)) / 1e6, 4) AS ave_daily
    FROM marked GROUP BY 1, 2
    """,
)
def phedex_daily_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-snapshot fold stats, the mergePhedex pattern
    (/root/reference/src/Go/mergePhedex.go:152-325) on the events
    table: per (group, day) totals folded to min/max date, day count,
    max daily total, last-day total, and the average of daily totals
    EXCLUDING the newest day (the Go merger's ave_size intent). Two
    shuffles total (daily agg; regroup) — the window max rides the
    second. Daily totals are integerized to micro-units (round-6 ×
    1e6 as BIGINT) before the comparisons/avg, so all downstream
    arithmetic is exact integers and FP summation order can't flip a
    round-4 output sitting on a .5 boundary; one deterministic
    division at the end converts back."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        (F.col("user_id") % 10).alias("cohort"),
        F.to_date("ts").alias("d"),
    ).agg(
        F.round(F.round(F.sum("value"), 6) * 1000000, 0)
        .cast("bigint")
        .alias("tu")
    )
    w = Window.partitionBy("event_type", "cohort")
    marked = daily.withColumn("maxd", F.max("d").over(w))
    not_last = F.when(F.col("d") != F.col("maxd"), F.col("tu"))
    return marked.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("days"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("max_date"),
        F.round(F.max("tu") / 1e6, 4).alias("max_daily"),
        F.round(
            F.max(F.when(F.col("d") == F.col("maxd"), F.col("tu"))) / 1e6, 4
        ).alias("last_daily"),
        F.round(
            F.coalesce(
                F.sum(not_last) / F.count(not_last),
                F.max("tu"),
            )
            / 1e6,
            4,
        ).alias("ave_daily"),
    )


@query(
    "quality_gate_funnel",
    r"""
    WITH g AS (
      SELECT source,
             (n_chars BETWEEN 100 AND 20000) AS pass_len,
             len(regexp_split_to_array(trim(text), '\s+')) >= 20 AS pass_words,
             length(regexp_replace(text, '\s+', '', 'g'))
               / len(regexp_split_to_array(trim(text), '\s+'))
               BETWEEN 3 AND 12 AS pass_wordlen,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
               / length(text) >= 0.6 AS pass_alpha
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN pass_len THEN 1 ELSE 0 END)::BIGINT AS n_pass_len,
           sum(CASE WHEN pass_words THEN 1 ELSE 0 END)::BIGINT AS n_pass_words,
           sum(CASE WHEN pass_wordlen THEN 1 ELSE 0 END)::BIGINT AS n_pass_wordlen,
           sum(CASE WHEN pass_alpha THEN 1 ELSE 0 END)::BIGINT AS n_pass_alpha,
           sum(CASE WHEN pass_len AND pass_words AND pass_wordlen
                         AND pass_alpha THEN 1 ELSE 0 END)::BIGINT AS n_pass_all
    FROM g GROUP BY source
    """,
)
def quality_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality-filter funnel audit: per source, how many
    docs survive each structural gate (length band, min word count,
    mean word length band, alphanumeric ratio) and all gates together.
    Every gate is integer/exact arithmetic on both engines, so the
    funnel is hash-stable; all gates evaluate in the scan stage — one
    shuffle for the final per-source rollup."""
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    alnum = F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
    g = d.select(
        "source",
        F.col("n_chars").between(100, 20000).alias("pass_len"),
        (n_words >= 20).alias("pass_words"),
        (nonspace / n_words).between(3, 12).alias("pass_wordlen"),
        ((alnum / F.length("text")) >= 0.6).alias("pass_alpha"),
    )
    as_int = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))  # noqa: E731
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_int("pass_len").alias("n_pass_len"),
        as_int("pass_words").alias("n_pass_words"),
        as_int("pass_wordlen").alias("n_pass_wordlen"),
        as_int("pass_alpha").alias("n_pass_alpha"),
        F.sum(
            F.when(
                F.col("pass_len")
                & F.col("pass_words")
                & F.col("pass_wordlen")
                & F.col("pass_alpha"),
                1,
            ).otherwise(0)
        ).alias("n_pass_all"),
    )


@query(
    "token_rarity_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
    per_doc AS (
      SELECT doc_id, any_value(source) AS source,
             round(avg(tf), 6) AS mean_tf,
             round(sum(CASE WHEN tf < 5 THEN 1 ELSE 0 END) / count(*), 6)
               AS rare_frac
      FROM toks JOIN freq USING (tok) GROUP BY doc_id
    )
    SELECT source, count(*) AS n_docs,
           round(avg(mean_tf), 4) AS mean_token_freq,
           round(avg(rare_frac), 4) AS rare_token_frac
    FROM per_doc GROUP BY source
    """,
)
def token_rarity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality score (the CCNet/LM-filter idea with
    the LM replaced by corpus statistics): per document, the mean
    corpus frequency of its tokens and the fraction of rare (tf < 5)
    tokens; rolled up per source. Boilerplate-heavy docs score high
    mean_tf / low rare_frac; noisy or OCR-damaged docs the reverse.

    Scale shape: explode → per-token count (map-side partials) →
    join-back on token → per-doc agg → per-source agg. The token
    frequency table is vocabulary-sized — orders of magnitude smaller
    than the corpus — and AQE broadcast-converts it when it fits;
    everything stays JVM-side (all integer arithmetic until the final
    rounded averages, so the oracle comparison is FP-stable)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(T.tokens("text")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = (
        toks.join(freq, on="tok")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.round(F.avg("tf"), 6).alias("mean_tf"),
            F.round(
                F.sum(F.when(F.col("tf") < 5, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("rare_frac"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("mean_tf"), 4).alias("mean_token_freq"),
        F.round(F.avg("rare_frac"), 4).alias("rare_token_frac"),
    )


@query(
    "range_join_order_windows",
    """
    WITH p AS (
      SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS p,
             o_totalprice
      FROM orders
    ),
    iv AS (
      SELECT o_orderkey AS window_key,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS s
      FROM orders WHERE o_custkey % 100 = 0
    )
    SELECT window_key,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM iv JOIN p ON p.p >= iv.s AND p.p < iv.s + 7
    GROUP BY window_key
    """,
)
def range_join_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (point-in-interval) through the binned
    range-join operator: orders placed within 7 days of each probe
    order's date, aggregated per window. The oracle states the bare
    BETWEEN join; the Spark plan is the bin-bucketed equi-join —
    identical results, scalable shape (operators/joins.py
    range_join_binned)."""
    o = _t(spark, sf_dir, "orders")
    day = F.unix_date(F.to_date("o_orderdate"))
    points = o.select(day.alias("p"), "o_totalprice")
    iv = (
        o.filter(F.col("o_custkey") % 100 == 0)
        .select(
            F.col("o_orderkey").alias("window_key"),
            day.alias("s"),
            (day + 7).alias("e"),
        )
    )
    joined = J.range_join_binned(points, iv, "p", "s", "e", bin_width=7)
    return joined.groupBy("window_key").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "time_rollup_hierarchy",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(round(round(sum(value), 6) * 1000000, 0) AS BIGINT) AS tu,
             count(*) AS n, min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, date_trunc('day', bucket) AS bucket,
             sum(tu) AS tu, sum(n) AS n,
             min(vmin) AS vmin, max(vmax) AS vmax
      FROM h GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, date_trunc('month', bucket) AS bucket,
             sum(tu) AS tu, sum(n) AS n,
             min(vmin) AS vmin, max(vmax) AS vmax
      FROM d GROUP BY 1, 2
    )
    SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           'hour' AS resolution, round(tu / 1e6, 6) AS total,
           CAST(n AS BIGINT) AS n, vmin, vmax
    FROM h
    UNION ALL
    SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S'),
           'day', round(tu / 1e6, 6), CAST(n AS BIGINT), vmin, vmax
    FROM d
    UNION ALL
    SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S'),
           'month', round(tu / 1e6, 6), CAST(n AS BIGINT), vmin, vmax
    FROM m
    """,
)
def time_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (operators/aggregations.py
    time_rollup): hour/day/month event rollups where each coarser level
    re-aggregates the level below — ONE fact scan, plan-asserted
    exchange reuse across the union branches. The oracle mirrors the
    level derivation (day from hour, month from day) so the micro-unit
    integer sums are bit-identical."""
    e = _t(spark, sf_dir, "events")
    out = A.time_rollup(e, "ts", ["event_type"], "value")
    return out.withColumn(
        "bucket", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
    )


_CM_BUCKET_SQL = (
    "('0x' || substring(md5('cm' || {d} || '|' "
    "|| CAST(user_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 2147483648 % 256"
)
_CM_SKETCH_SQL = f"""
      SELECT CAST(d.d AS BIGINT) AS d,
             {_CM_BUCKET_SQL.format(d="d.d")} AS bucket,
             count(*) AS cnt
      FROM events, (SELECT unnest(generate_series(0, 3)) AS d) d
      GROUP BY 1, 2
"""


@query(
    "count_min_sketch_events",
    f"SELECT d, bucket, cnt FROM ({_CM_SKETCH_SQL})",
)
def count_min_sketch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build over event user_ids (operators/
    sketches.py): depth×width counter cells from one narrow map + one
    partially-aggregated groupBy. The oracle unrolls the same salted
    md5 bucket hash in SQL; cell counts must match exactly."""
    e = _t(spark, sf_dir, "events")
    sk = K.count_min_build(e, "user_id", depth=4, width=256)
    return sk.withColumn("d", F.col("d").cast("long"))


@query(
    "count_min_heavy_users",
    f"""
    WITH sketch AS ({_CM_SKETCH_SQL}),
    probes AS (SELECT DISTINCT user_id FROM events),
    coords AS (
      SELECT user_id AS key, CAST(d.d AS BIGINT) AS d,
             {_CM_BUCKET_SQL.format(d="d.d")} AS bucket
      FROM probes, (SELECT unnest(generate_series(0, 3)) AS d) d
    ),
    est AS (
      SELECT key, min(coalesce(s.cnt, 0)) AS est
      FROM coords c LEFT JOIN sketch s USING (d, bucket)
      GROUP BY key
    )
    SELECT key, est FROM est ORDER BY est DESC, key LIMIT 10
    """,
)
def count_min_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter recovery through the sketch: estimate every
    distinct user's frequency from the depth×width cells (sketch side
    broadcast — it is ≤1024 rows by construction) and keep the top 10
    by estimate. Deterministic tie-break on key makes the top-k
    oracle-stable."""
    e = _t(spark, sf_dir, "events")
    sk = K.count_min_build(e, "user_id", depth=4, width=256)
    probes = e.select("user_id").distinct()
    est = K.count_min_estimate(sk, probes, "user_id", depth=4, width=256)
    return est.orderBy(F.col("est").desc(), F.col("key")).limit(10)


@query(
    "semi_join_recent_customers",
    """
    SELECT c_custkey, c_name, c_nationkey
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= '1997-06-01'
    )
    """,
)
def semi_join_recent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi completes the join-type family (J8's anti twin):
    customers with a recent order, no order columns carried — the
    semi join probes the build side and short-circuits on first
    match, cheaper than inner-join + distinct at any scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "1997-06-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


@query(
    "cube_orders_status_priority",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE across (status, priority) — all four grouping-set
    combinations in ONE pass (A12's rollup sibling; Spark expands the
    cube in the partial aggregate, so the fact still scans once)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: decontamination, packing, sampling, mixtures
# (operators/pipeline.py — beyond-reference, SURVEY §7.2 M8)
# ---------------------------------------------------------------------------


@query(
    "decontaminate_ngram_overlap",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    grams AS (SELECT doc_id, {_SHINGLES_SQL} AS gs FROM tok),
    bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
    doc_g AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0),
    hits AS (
      SELECT doc_id, count(*) AS n_hit
      FROM doc_g WHERE g IN (SELECT g FROM bench)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.gs) AS BIGINT) AS n_grams,
           CAST(h.n_hit AS BIGINT) AS n_hit,
           round(h.n_hit / greatest(len(t.gs), 1), 6) AS hit_ratio
    FROM grams t JOIN hits h ON t.doc_id = h.doc_id
    WHERE t.doc_id % 20 <> 0
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing word trigrams with
    a protected eval set (here: every 20th doc). The eval set's distinct
    grams are BROADCAST; the corpus shuffles only its per-doc gram-hit
    re-aggregation (ids + counts, never text) — the 100 TB shape of
    test-set leakage detection for training corpora."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    rest = d.filter(F.col("doc_id") % 20 != 0)
    out = PL.ngram_overlap(rest, bench, n=3)
    return out.filter(F.col("n_hit") > 0).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.round("hit_ratio", 6).alias("hit_ratio"),
    )


@query(
    "pack_concat_chunks",
    f"""
    WITH tok AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, doc_tokens,
             CAST(coalesce(sum(doc_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, doc_tokens, s,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id
      FROM offs WHERE doc_tokens > 0
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                    - greatest(s, chunk_id * 512)) AS BIGINT) AS chunk_tokens
    FROM chunks GROUP BY chunk_id
    """,
)
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate docs in doc_id order and
    slice fixed 512-token windows (docs may span boundaries). Output is
    per-chunk occupancy — every chunk_tokens is exactly 512 except the
    tail, which is the packer's invariant. Pure window cumsum + bounded
    sequence explode; no driver state (operators/pipeline.py)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    chunks = PL.concat_pack_chunks(d, ctx_len=512)
    return chunks.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens_in_chunk").alias("chunk_tokens"),
    )


@query(
    "pack_concat_eos_chunks",
    f"""
    WITH tok AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    offs AS (
      -- zero-token docs are dropped BEFORE the cumsum (they emit no
      -- chunk rows so they must not consume separator slots either)
      SELECT doc_id, doc_tokens,
             CAST(coalesce(sum(doc_tokens + 1) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM tok WHERE doc_tokens > 0
    ),
    chunks AS (
      SELECT doc_id, doc_tokens, s,
             unnest(generate_series(s // 512, (s + doc_tokens) // 512))
               AS chunk_id
      FROM offs
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(s + doc_tokens + 1, (chunk_id + 1) * 512)
                    - greatest(s, chunk_id * 512)) AS BIGINT) AS chunk_tokens
    FROM chunks GROUP BY chunk_id
    """,
)
def pack_concat_eos_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Separator-aware packing (r5): pack_concat_chunks with
    ``sep_tokens=1`` — every document occupies doc_tokens + 1 stream
    positions (the trailing EOS a real trainer inserts between packed
    docs) and chunk occupancy counts the separator, so per-chunk
    budgets match the real token stream. Same window-cumsum +
    bounded-explode plan; the oracle is the pack oracle with the
    +1 threaded through offsets, spans and occupancy."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    chunks = PL.concat_pack_chunks(d, ctx_len=512, sep_tokens=1)
    return chunks.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens_in_chunk").alias("chunk_tokens"),
    )


@query(
    "pack_concat_chunks_sharded",
    f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, doc_tokens,
             CAST(coalesce(sum(doc_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, source, doc_tokens, s,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id
      FROM offs WHERE doc_tokens > 0
    )
    SELECT source, chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                    - greatest(s, chunk_id * 512)) AS BIGINT) AS chunk_tokens
    FROM chunks GROUP BY source, chunk_id
    """,
)
def pack_concat_chunks_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-first sequence packing — the 100 TB default shape: the
    offset cumsum partitions by ``source`` so every shard's stream packs
    in parallel (chunk_id is per-shard); no single-partition global sort
    anywhere in the plan (asserted by
    tests/test_plans.py::test_sharded_pack_has_no_single_partition_sort).
    The unsharded form (pack_concat_chunks) stays as the documented
    special case for when one global stream is genuinely required."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    chunks = PL.concat_pack_chunks(d, ctx_len=512, partition_cols=["source"])
    return chunks.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens_in_chunk").alias("chunk_tokens"),
    )


@query(
    "stratified_sample_sources",
    """
    WITH rk AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS _rk
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM rk WHERE _rk <= 5
    """,
)
def stratified_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-per-source deterministic sample: rank inside each stratum
    by a content hash (stable under re-sharding, like hash_sample) and
    keep the first 5. One shuffle on the stratum key
    (operators/pipeline.stratified_topk_sample)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return PL.stratified_topk_sample(d, ["source"], k=5)


@query(
    "mixture_weights_temperature",
    f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    shares AS (
      SELECT source, n_docs, n_tokens,
             n_tokens / sum(n_tokens) OVER () AS share
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(share, 6) AS token_share,
           round(pow(share, 0.7) / sum(pow(share, 0.7)) OVER (), 6) AS weight
    FROM shares
    """,
)
def mixture_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights (α=0.7): per-source token
    share p_s and sampling weight ∝ p_s^0.7 normalized — the standard
    multilingual/multi-source re-balancing computed in one corpus scan
    plus two tiny window sums (operators/pipeline.mixture_weights)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    out = PL.mixture_weights(d, "source", alpha=0.7)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("token_share", 6).alias("token_share"),
        F.round("weight", 6).alias("weight"),
    )


@query(
    "quality_ntile_buckets",
    """
    WITH b AS (
      SELECT source, n_chars,
             ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS bucket
      FROM documents
    )
    SELECT source, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY source, bucket
    """,
)
def quality_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile assignment per source (curriculum/quality
    binning): NTILE(4) over a deterministic (n_chars, doc_id) order,
    then per-bucket spans. W-family windowing over the documents table."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (
        d.withColumn("bucket", F.ntile(4).over(w))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


_GREEDY_PACK_SQL = f"""
    WITH RECURSIVE tok AS (
      SELECT source, doc_id, CAST(len({_TOKS_SQL}) AS INT) AS doc_tokens,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY doc_id) AS INT) AS rn
      FROM documents
    ),
    walk AS (
      SELECT source, doc_id, doc_tokens, rn,
             0 AS bin_id,
             doc_tokens > 512 AS truncated,
             CASE WHEN doc_tokens > 512 THEN 1 ELSE 0 END AS next_bin,
             CASE WHEN doc_tokens > 512 THEN 0 ELSE doc_tokens END AS used,
             doc_tokens <= 512 AS started
      FROM tok WHERE rn = 1
      UNION ALL
      SELECT t.source, t.doc_id, t.doc_tokens, t.rn,
             CASE
               WHEN t.doc_tokens > 512 THEN
                 CASE WHEN w.started THEN w.next_bin + 1 ELSE w.next_bin END
               WHEN w.started AND w.used + t.doc_tokens > 512 THEN w.next_bin + 1
               ELSE w.next_bin
             END AS bin_id,
             t.doc_tokens > 512 AS truncated,
             CASE
               WHEN t.doc_tokens > 512 THEN
                 (CASE WHEN w.started THEN w.next_bin + 1 ELSE w.next_bin END) + 1
               WHEN w.started AND w.used + t.doc_tokens > 512 THEN w.next_bin + 1
               ELSE w.next_bin
             END AS next_bin,
             CASE WHEN t.doc_tokens > 512 THEN 0
                  WHEN w.started AND w.used + t.doc_tokens > 512 THEN t.doc_tokens
                  ELSE w.used + t.doc_tokens END AS used,
             t.doc_tokens <= 512 AS started
      FROM tok t JOIN walk w ON t.source = w.source AND t.rn = w.rn + 1
    )
    SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_tokens) AS BIGINT) AS bin_tokens,
           CAST(max(CASE WHEN truncated THEN 1 ELSE 0 END) AS INT)
             AS has_truncated
    FROM walk GROUP BY source, bin_id
"""


@query("greedy_pack_bins", _GREEDY_PACK_SQL)
def greedy_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit whole-doc bin packing (capacity 512 tokens) per
    source via Arrow applyInPandas — resettable running state that
    plain window SQL can't express, but a DuckDB RECURSIVE CTE can:
    the oracle replays the identical per-group walk one row per
    iteration (depth = max group size), on top of the invariant suite
    (tests/test_pipeline.py: capacity, coverage, contiguity,
    reshard-determinism)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    packed = PL.greedy_pack_bins(
        d, capacity=512, partition_cols=["source"]
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_tokens").alias("bin_tokens"),
        F.max(F.col("truncated").cast("int")).alias("has_truncated"),
    )


_BF_POS_SQL = (
    "(('0x' || substring(md5('bf' || {i} || '|' || g), 1, 15))::BIGINT "
    "% 2147483648) % 4096"
)


@query(
    "bloom_decontaminate",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    grams AS (SELECT doc_id, {_SHINGLES_SQL} AS gs FROM tok),
    bench_g AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
    bpos AS (
      SELECT DISTINCT {_BF_POS_SQL.format(i="i.i")} AS pos
      FROM bench_g, (SELECT unnest(generate_series(0, 3)) AS i) i
    ),
    bloom AS (
      SELECT pos // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
      FROM bpos GROUP BY 1
    ),
    doc_g AS (
      SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0
    ),
    probe_g AS (SELECT DISTINCT g FROM doc_g),
    ppos AS (
      SELECT g, {_BF_POS_SQL.format(i="i.i")} AS pos
      FROM probe_g, (SELECT unnest(generate_series(0, 3)) AS i) i
    ),
    flags AS (
      SELECT g,
             min(CASE WHEN b.bits IS NOT NULL
                       AND (b.bits & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS hit
      FROM ppos p LEFT JOIN bloom b ON p.pos // 32 = b.word_idx
      GROUP BY g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(hit) AS BIGINT) AS n_flagged
    FROM doc_g JOIN flags USING (g)
    GROUP BY doc_id
    HAVING sum(hit) > 0
    """,
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at scale via a mergeable Bloom filter
    (operators/sketches.bloom_build): the benchmark's trigrams collapse
    to ≤⌈m/32⌉ filter words instead of broadcast strings; probing ANDs
    k bit tests per gram. Deterministic md5 positions make even the
    false positives reproducible — the DuckDB twin builds the identical
    filter, so cell-exact oracle parity covers build AND probe."""
    from cmsspark_spark.functions.text import raw_ngrams, tokens
    from cmsspark_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(raw_ngrams(tokens("text"), 3))).alias("g"),
    )
    bench_g = grams.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    doc_g = grams.filter(F.col("doc_id") % 20 != 0)
    bloom = SK.bloom_build(bench_g, "g", m_bits=4096, k_hashes=4)
    flags = SK.bloom_might_contain(
        bloom, doc_g.select("g").distinct(), "g", m_bits=4096, k_hashes=4
    )
    return (
        doc_g.join(flags, doc_g["g"] == flags["key"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("might_contain").cast("long")).alias("n_flagged"),
        )
        .filter(F.col("n_flagged") > 0)
    )


@query(
    "rolling_7day_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(epoch(CAST(o_orderdate AS DATE)) AS BIGINT) AS day_epoch,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(day AS VARCHAR) AS day,
           round(rev_cents / 100.0, 2) AS day_revenue,
           round(CAST(sum(rev_cents) OVER (
             ORDER BY day_epoch
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0, 2) AS rolling_7d_revenue
    FROM daily
    """,
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-interval rolling aggregate (W-family RANGE frame): per
    order day, revenue summed over the trailing 7 calendar days via a
    RANGE window on epoch seconds — the frame is value-based, so gap
    days are handled correctly (a ROWS frame would silently span them).
    Daily pre-aggregation first: the window walks |days| rows, never
    |orders|. Integer cents inside the window for summation-order-proof
    oracle parity."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.col("o_orderdate").cast("date").cast("timestamp").cast("long").alias(
            "day_epoch"
        ),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    w = Window.orderBy("day_epoch").rangeBetween(-6 * 86400, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.round(F.col("rev_cents") / 100.0, 2).alias("day_revenue"),
        F.round((F.sum("rev_cents").over(w)) / 100.0, 2).alias(
            "rolling_7d_revenue"
        ),
    )


@query(
    "event_gap_percentiles",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
               AS gap_s
      FROM events
    )
    SELECT CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.50), 2) AS p50_s,
           round(quantile_cont(gap_s, 0.90), 2) AS p90_s,
           round(quantile_cont(gap_s, 0.99), 2) AS p99_s,
           CAST(max(gap_s) AS BIGINT) AS max_s
    FROM gaps WHERE gap_s IS NOT NULL
    """,
)
def event_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution: per-user lag diffs (deterministic
    (ts, event_id) order) → exact global percentiles. The lag window
    shuffles once on user_id; the percentile is a single-row global agg
    (F.percentile ≡ quantile_cont). At 100 TB swap the exact percentile
    for approx_percentile — same plan shape, sketch-mergeable."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.50D)"), 2).alias("p50_s"),
        F.round(F.expr("percentile(gap_s, 0.90D)"), 2).alias("p90_s"),
        F.round(F.expr("percentile(gap_s, 0.99D)"), 2).alias("p99_s"),
        F.max("gap_s").alias("max_s"),
    )


# --- oracle upgrades for sign-LSH ANN (rows-only → oracle-backed) ----------
# The hyperplanes are seeded literals, DuckDB's list_dot_product folds
# left-to-right in double exactly like Spark's aggregate(zip_with(...)),
# and the rescore is the same Catalyst fold on both engines — so even
# these *approximate* operators have exact cross-engine twins. The SQL
# is generated here so the plane constants exist in ONE place (numpy
# default_rng(42), identical to operators/similarity.py's calls).


def _plane_sql(plane) -> str:
    return "[" + ", ".join(f"{float(x):.17e}" for x in plane) + "]"


def _bucket_sql(planes, vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_plane_sql(p)}) >= 0.0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return " + ".join(terms)


def _lsh_topk_oracle() -> str:
    import numpy as np

    rng = np.random.default_rng(42)
    all_planes = [rng.standard_normal((4, 64)) for _ in range(4)]
    bucket_cols = ",\n             ".join(
        f"{_bucket_sql(all_planes[t], 'e')} AS b{t}" for t in range(4)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM hashed"
        for t in range(4)
    )
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    hashed AS (
      SELECT vec_id, {bucket_cols}
      FROM corpus
    ),
    lb AS ({unpivot}),
    q AS (SELECT vec_id AS query_id, tbl, bucket FROM lb WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM lb c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
                      AND c.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             list_dot_product(ce.e, qe.e)
               / (sqrt(list_dot_product(ce.e, ce.e))
                  * sqrt(list_dot_product(qe.e, qe.e))) AS cos
      FROM cand
      JOIN corpus ce ON cand.vec_id = ce.vec_id
      JOIN corpus qe ON cand.query_id = qe.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


def _near_dup_lsh_oracle() -> str:
    import numpy as np

    rng = np.random.default_rng(42)
    all_planes = [rng.standard_normal((4, 64)) for _ in range(8)]
    bucket_cols = ",\n             ".join(
        f"{_bucket_sql(all_planes[t], 'e')} AS b{t}" for t in range(8)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM hashed"
        for t in range(8)
    )
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    hashed AS (
      SELECT vec_id, {bucket_cols}
      FROM corpus
    ),
    lb AS ({unpivot}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM lb a JOIN lb b ON a.tbl = b.tbl AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
    ),
    units AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
      FROM corpus
    )
    SELECT c.id_a, c.id_b,
           round(list_dot_product(ua.u, ub.u), 6) AS cosine
    FROM cand c
    JOIN units ua ON c.id_a = ua.vec_id
    JOIN units ub ON c.id_b = ub.vec_id
    WHERE list_dot_product(ua.u, ub.u) >= 0.3
    """


ORACLES["ann_lsh_topk"] = _lsh_topk_oracle()
ORACLES["embed_near_dup_lsh"] = _near_dup_lsh_oracle()


@query(
    "forward_fill_purchase_value",
    """
    WITH ff AS (
      SELECT user_id, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_value
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(last_purchase_value) AS BIGINT) AS n_filled,
           round(sum(CASE WHEN event_type = 'click'
                          THEN last_purchase_value END), 2)
             AS click_attributed_value
    FROM ff GROUP BY user_id HAVING count(last_purchase_value) > 0
    """,
)
def forward_fill_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (gap fill): carry each user's last purchase value
    forward onto later events via ``last(..., ignorenulls=True)`` over
    an unbounded-preceding frame — the standard last-observation-
    carried-forward for sparse signals. One shuffle on user_id; the
    fill itself is a running window, no self-join. Aggregated to
    per-user attribution sums for a compact oracle surface."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("last_purchase_value").alias("n_filled"),
            F.round(
                F.sum(
                    F.when(
                        F.col("event_type") == "click",
                        F.col("last_purchase_value"),
                    )
                ),
                2,
            ).alias("click_attributed_value"),
        )
        .filter(F.col("n_filled") > 0)
    )


def _ivf_static_centroids():
    import numpy as np

    rng = np.random.default_rng(7)
    c = rng.standard_normal((8, 64))
    return c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)


def _ivf_static_oracle() -> str:
    cents = _ivf_static_centroids()
    cent_rows = ", ".join(
        f"({ci}, {_plane_sql(c)})" for ci, c in enumerate(cents)
    )
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents(c, v) AS (VALUES {cent_rows}),
    scored AS (
      SELECT corpus.vec_id, cents.c,
             list_dot_product(corpus.e, cents.v) AS s
      FROM corpus, cents
    ),
    ranked AS (
      SELECT vec_id, c, s,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rk
      FROM scored
    ),
    assign AS (SELECT vec_id, c AS centroid FROM ranked WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, c AS centroid
               FROM ranked WHERE rk <= 3 AND vec_id < 5),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assign a ON p.centroid = a.centroid
                                  AND a.vec_id <> p.query_id
    ),
    rescored AS (
      SELECT cand.query_id, cand.vec_id,
             list_dot_product(ce.e, qe.e)
               / (sqrt(list_dot_product(ce.e, ce.e))
                  * sqrt(list_dot_product(qe.e, qe.e))) AS cos
      FROM cand
      JOIN corpus ce ON cand.vec_id = ce.vec_id
      JOIN corpus qe ON cand.query_id = qe.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM rescored
    ) WHERE rank <= 5
    """


@query("ann_ivf_static_topk")
def ann_ivf_static_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe machinery with STATIC seeded centroids (random unit
    vectors — the production shape where the index's coarse quantizer
    is built offline and shipped, and a legitimate ANN scheme in its
    own right). Unlike ann_ivf_topk's driver-trained k-means, every
    step is SQL-reproducible: assignment uses the sequential-fold SQL
    impl whose (score DESC, centroid DESC) tie-break the DuckDB twin
    replicates, so inverted lists, probe sets, candidates and cosines
    all match hash-exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_topk(
        emb, queries, _ivf_static_centroids(), k=5, nprobe=3, impl="sql"
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ORACLES["ann_ivf_static_topk"] = _ivf_static_oracle()


@query(
    "clean_corpus_survivors",
    f"""
    WITH tok AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents),
    fp AS (
      SELECT doc_id, source, md5(array_to_string(tk, ' ')) AS fp, tk
      FROM tok
    ),
    survivors AS (
      SELECT doc_id, source, tk FROM (
        SELECT doc_id, source, tk,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fp
      ) WHERE rn = 1
    ),
    grams AS (SELECT doc_id, source, {_SHINGLES_SQL} AS gs FROM survivors),
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0
    ),
    doc_g AS (
      SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0
    ),
    contam AS (
      SELECT doc_id,
             count(*) FILTER (WHERE g IN (SELECT g FROM bench)) AS n_hit,
             count(*) AS n_grams
      FROM doc_g GROUP BY doc_id
    ),
    clean AS (
      SELECT s.doc_id, s.source
      FROM survivors s JOIN contam c ON s.doc_id = c.doc_id
      WHERE c.n_hit <= 0.5 * c.n_grams
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE c.doc_id IS NOT NULL) AS BIGINT)
             AS n_clean
    FROM tok t LEFT JOIN clean c ON t.doc_id = c.doc_id
    GROUP BY t.source
    """,
)
def clean_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning composition — the realistic
    pre-training pipeline shape: exact-dedup (deterministic min-id
    survivor per token fingerprint) → benchmark decontamination (drop
    docs with >50% trigram overlap against the protected eval set; eval
    members themselves are excluded) → per-source survival counts. Each
    stage is the already-verified operator; this entry verifies the
    COMPOSITION end-to-end against one DuckDB twin."""
    from cmsspark_spark.functions.text import fingerprint
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    # Election shuffles (fingerprint, id) ONLY — never the document
    # text (at 100 TB the text-through-the-shuffle version is the
    # bottleneck; measured 8.2s → 3.4s at sf0.1). The tiny survivor-id
    # list is the stage boundary (eager checkpoint = the in-query form
    # of materializing the dedup output) and the three downstream
    # branches re-attach text by column-pruned semi-join.
    w = Window.partitionBy("_fp").orderBy(F.col("doc_id").asc())
    survivor_ids = (
        d.select(fingerprint("text").alias("_fp"), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    survivors = d.join(survivor_ids, on="doc_id", how="left_semi")
    bench = survivors.filter(F.col("doc_id") % 20 == 0)
    rest = survivors.filter(F.col("doc_id") % 20 != 0)
    overlap = PL.ngram_overlap(rest, bench, n=3)
    clean = overlap.filter(
        F.col("n_hit") <= 0.5 * F.col("n_grams")
    ).select("doc_id")
    return (
        d.join(clean.withColumn("_clean", F.lit(1)), on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_clean").alias("n_clean"),
        )
    )


@query(
    "scd2_user_type_history",
    """
    WITH snap AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(event_type) AS event_type
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    flagged AS (
      SELECT user_id, day, event_type,
             CASE WHEN lag(day) OVER w IS NULL
                   OR lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM snap WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    runs AS (
      SELECT user_id, day, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, event_type,
             CAST(min(day) AS VARCHAR) AS valid_from,
             CAST(max(day) AS VARCHAR) AS valid_to_raw,
             max(day) AS _to_day
      FROM runs GROUP BY user_id, event_type, run
    )
    SELECT user_id, event_type, valid_from,
           CASE WHEN _to_day = (SELECT max(CAST(ts AS DATE)) FROM events)
                THEN NULL ELSE valid_to_raw END AS valid_to
    FROM intervals
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (operators/incremental.scd2_intervals): daily
    per-user snapshots (min event_type per day — deterministic) run-
    length compressed into validity intervals; open runs end NULL. The
    window-flag → running-sum → fold shape replaces per-day loops and
    self-joins over the reference's full-copy daily dumps."""
    from cmsspark_spark.operators.incremental import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    snap = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("event_type").alias("event_type"))
    out = scd2_intervals(snap, ["user_id"], ["event_type"], day_col="day")
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
    )


@query(
    "snapshot_diff_order_status",
    """
    WITH old AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY o_custkey
    ),
    new AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'
      GROUP BY o_custkey
    ),
    j AS (
      SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
             o.n_orders AS old_n_orders, n.n_orders AS new_n_orders,
             o.o_custkey IS NULL AS only_new,
             n.o_custkey IS NULL AS only_old
      FROM old o FULL OUTER JOIN new n ON o.o_custkey = n.o_custkey
    )
    SELECT o_custkey, old_n_orders, new_n_orders,
           CASE WHEN only_new THEN 'added'
                WHEN only_old THEN 'removed'
                WHEN old_n_orders IS DISTINCT FROM new_n_orders THEN 'changed'
           END AS change
    FROM j
    WHERE only_new OR only_old OR old_n_orders IS DISTINCT FROM new_n_orders
    """,
)
def snapshot_diff_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic snapshot diff (operators/incremental.snapshot_diff): the
    per-customer order-count snapshot as of 1997 vs 1999 — added /
    removed / changed keys only, null-safe comparison, one full-outer
    join. The leftovers anti-join family is the 'removed' slice."""
    from cmsspark_spark.operators.incremental import snapshot_diff

    o = _t(spark, sf_dir, "orders")

    def snap(before: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderdate").cast("date") < F.lit(before).cast("date"))
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    return snapshot_diff(
        snap("1997-01-01"), snap("1999-01-01"), ["o_custkey"], ["n_orders"]
    )


@query(
    "line_dedup_corpus",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    posd AS (
      SELECT doc_id, tk,
             unnest(generate_series(
               0, greatest(CAST(ceil(len(tk)/8.0) AS INT) - 1, 0))) AS pos
      FROM toks
    ),
    lined AS (
      SELECT doc_id, pos,
             array_to_string(tk[(pos*8+1):(pos*8+8)], ' ') AS line
      FROM posd
    ),
    flt AS (SELECT * FROM lined WHERE len(trim(line)) >= 1),
    elected AS (
      SELECT doc_id, pos, line,
             row_number() OVER (
               PARTITION BY line ORDER BY doc_id, pos) = 1 AS keep
      FROM flt
    )
    SELECT doc_id,
           md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                          FILTER (WHERE keep), '')) AS text_md5,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lines_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_lines_dropped
    FROM elected GROUP BY doc_id
    """,
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (operators/dedup.line_dedup — the C4
    move: drop every globally repeated line, first occurrence wins,
    reassemble docs in order). The synthetic corpus is single-line, so
    both engines first reformat deterministically into 8-token lines;
    election + in-order reassembly then run through the operator. Doc
    text compared by md5 for a compact oracle surface."""
    from cmsspark_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n_lines = F.greatest(
        F.ceil(F.size(toks) / F.lit(8.0)).cast("int") - 1, F.lit(0)
    )
    lined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines),
                lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
            ),
            "\n",
        ).alias("text"),
    )
    out = D.line_dedup(lined, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    )


@query(
    "strip_markup_cleanup",
    """
    WITH marked AS (
      SELECT doc_id,
             '<p class="x">' || text || '</p> see https://example.com/d/'
               || doc_id || ' &amp; <br/> more' AS raw
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, raw,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(raw, '<[^>]{1,200}>', ' ', 'g'),
                   'https?://[^\\s]+', ' ', 'g'),
                 '&(amp|lt|gt|quot|nbsp);', ' ', 'g'),
               '\\s+', ' ', 'g')) AS clean
      FROM marked
    )
    SELECT doc_id,
           CAST(len(raw) AS BIGINT) AS raw_chars,
           CAST(len(clean) AS BIGINT) AS clean_chars,
           md5(clean) AS clean_md5
    FROM stripped
    """,
)
def strip_markup_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup/URL stripping (functions/text.strip_markup — the C4-style
    pre-tokenization cleanup): HTML tags, bare URLs and entities out,
    whitespace collapsed. The corpus is plain text, so both engines
    first wrap each doc in identical synthetic markup; the chained
    regexp_replace pass then runs for real and the cleaned text is
    md5-compared."""
    from cmsspark_spark.functions.text import strip_markup

    d = _t(spark, sf_dir, "documents")
    marked = d.select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.col("text"),
            F.lit("</p> see https://example.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" &amp; <br/> more"),
        ).alias("raw"),
    )
    return marked.select(
        "doc_id",
        F.length("raw").cast("long").alias("raw_chars"),
        F.length(strip_markup("raw")).cast("long").alias("clean_chars"),
        F.md5(strip_markup("raw")).alias("clean_md5"),
    )


@query(
    "q10_returned_item_report",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue report over returned items — fact
    filtered on return flag and a half-year window, 3-way join with a
    broadcast nation dim, top-20 by revenue (TakeOrderedAndProject;
    deterministic custkey tie-break)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    od = F.col("o_orderdate").cast("date")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1996-07-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-split conditional counts (A3) over a
    year of shipments — the fact filters push to the scan, one join,
    map-side partial aggregation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (sd >= F.lit("1997-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue_share",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional ratio-of-sums
    (A5) over one month, part dim joined on the fact's partkey. Global
    single-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.filter(
            (sd >= F.lit("1997-09-01").cast("date"))
            & (sd < F.lit("1997-10-01").cast("date"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share")
        )
    )


@query(
    "multimodal_frame_sample",
    """
    WITH vids AS (
      SELECT doc_id, text,
             CAST(len(text) // 32 AS BIGINT) AS n_frames
      FROM documents
    ),
    idx AS (
      SELECT doc_id, text, i.i AS frame_idx,
             row_number() OVER (PARTITION BY doc_id ORDER BY i.i) AS taken
      FROM vids, (SELECT unnest(generate_series(0, 1023, 4)) AS i) i
      WHERE i.i < n_frames
    )
    SELECT doc_id, frame_idx,
           md5(substring(text, frame_idx * 32 + 1, 32)) AS frame_checksum
    FROM idx WHERE taken <= 16
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing, oracle-backed: documents stand in as
    'videos' (UTF-8 payload bytes; the corpus is ASCII so byte frames
    equal character frames and DuckDB reproduces every frame checksum
    with substring+md5). Exercises the 1→N mapInPandas explode, the
    every-k stride, and the per-video frame cap for real
    (operators/multimodal.sample_frames)."""
    from cmsspark_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    d = _t(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_binary_payload(d),
        every_k=4,
        frame_bytes=32,
        max_frames=16,
        max_parallelism=8,
    )
    return frames.select("doc_id", "frame_idx", "frame_checksum")


@query(
    "q4_order_priority_exists",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-07-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — orders with any late-shipped
    line, counted by priority. Spark expresses the subquery as a LEFT
    SEMI join on the key plus the correlated predicate (the planner's
    own decorrelation), so the fact dedups without a distinct."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    od = F.col("o_orderdate").cast("date")
    window = o.filter(
        (od >= F.lit("1997-07-01").cast("date"))
        & (od < F.lit("1997-10-01").cast("date"))
    )
    late = window.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate").cast("date") > od),
        how="left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q16_part_supplier_counts",
    """
    SELECT p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_type
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT-IN exclusion (LEFT ANTI on the broadcast
    blocklist of negative-balance suppliers) + distinct supplier counts
    per part type."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    blocked = s.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(blocked, on="l_suppkey", how="left_anti")
        .join(
            p.filter(~F.col("p_type").like("PROMO%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "training_pipeline_e2e",
    f"""
    WITH gated AS (
      SELECT doc_id, source, text, {_TOKS_SQL} AS tk
      FROM documents
      WHERE n_chars >= 10
    ),
    elected AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (
                 PARTITION BY md5(array_to_string(tk, ' '))
                 ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    surv AS (
      SELECT g.doc_id, g.source, g.tk,
             {_SHINGLES_SQL.replace("tk", "g.tk")} AS gs
      FROM gated g JOIN elected e ON g.doc_id = e.doc_id
    ),
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM surv WHERE doc_id % 20 = 0
    ),
    contam AS (
      SELECT doc_id,
             count(*) AS n_grams,
             count(*) FILTER (WHERE g IN (SELECT g FROM bench)) AS n_hit
      FROM (SELECT doc_id, unnest(gs) AS g FROM surv WHERE doc_id % 20 <> 0)
      GROUP BY doc_id
    ),
    clean AS (
      SELECT s.doc_id, s.source, len(s.tk) AS n_tokens
      FROM surv s JOIN contam c ON s.doc_id = c.doc_id
      WHERE c.n_hit <= 0.5 * c.n_grams
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(ceil(n_tokens / 512.0) AS BIGINT)) AS BIGINT)
             AS n_chunks_512
    FROM clean GROUP BY source
    """,
)
def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition — a pre-training data pipeline front to
    back: length gate → exact-dedup election (ids-only shuffle, staged
    id list) → benchmark decontamination (>50% trigram overlap drops;
    eval members excluded) → per-source token budget with 512-token
    chunk counts (the per-doc packing estimate). Every stage is an
    already-verified operator; the four-stage composition verifies
    hash-exactly against one DuckDB twin."""
    from cmsspark_spark.functions.text import fingerprint, token_count
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 10)
    w = Window.partitionBy("_fp").orderBy(F.col("doc_id").asc())
    survivor_ids = (
        d.select(fingerprint("text").alias("_fp"), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    surv = d.join(survivor_ids, on="doc_id", how="left_semi")
    bench = surv.filter(F.col("doc_id") % 20 == 0)
    rest = surv.filter(F.col("doc_id") % 20 != 0)
    clean_ids = (
        PL.ngram_overlap(rest, bench, n=3)
        .filter(F.col("n_hit") <= 0.5 * F.col("n_grams"))
        .select("doc_id")
    )
    clean = surv.join(clean_ids, on="doc_id", how="left_semi").select(
        "source", token_count("text").alias("n_tokens")
    )
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.ceil(F.col("n_tokens") / 512.0).cast("long")).alias(
            "n_chunks_512"
        ),
    )


@query(
    "near_dup_pipeline_e2e",
    f"""
    WITH RECURSIVE pairs AS ({{LSH_VERIFIED}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    drops AS (SELECT doc_id FROM comp WHERE doc_id <> component)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dr.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(dr.doc_id) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN drops dr USING (doc_id)
    GROUP BY source
    """,
)
def near_dup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-dup dedup capstone (training_pipeline_e2e's sibling,
    which dedups exactly): MinHash-LSH candidates → candidate-pruned
    exact-Jaccard verification → connected components → min-id survivor
    per cluster → per-source keep/drop counts.

    100 TB shape: every stage shuffles ids/signatures only — candidates
    from the banded bucket self-join (never all-pairs), verification
    linear in Σ|shingles(candidate docs)|, components one shuffle per
    propagation round over the (tiny) verified pair list, and the final
    drop list joins back to the corpus by id with document text never
    crossing a shuffle. The oracle is one DuckDB twin: the LSH-verified
    pair CTEs feeding a recursive-CTE transitive closure."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    drops = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("_dropped"))
    )
    return (
        d.select("doc_id", "source")
        .join(drops, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("_dropped")).alias("n_kept"),
        )
    )


# The near-dup capstone's oracle embeds the LSH-verified pair SQL; the
# f-string above leaves a {LSH_VERIFIED} placeholder because nesting a
# multi-line generated CTE inside an f-string literal is unreadable.
ORACLES["near_dup_pipeline_e2e"] = ORACLES["near_dup_pipeline_e2e"].replace(
    "{LSH_VERIFIED}", _lsh_verified_oracle_sql()
)


# ---------------------------------------------------------------------------
# Product quantization (round 4)
# ---------------------------------------------------------------------------


def _pq_oracle(topk: int = 5) -> str:
    import numpy as np

    cb = S.pq_codebook()
    m, k, d_sub = cb.shape
    rows = []
    for j in range(m):
        for c in range(k):
            hn = float(np.dot(cb[j, c], cb[j, c])) / 2.0
            rows.append(f"({j}, {c}, {_plane_sql(cb[j, c])}, {hn:.17e})")
    cent_rows = ", ".join(rows)
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents(j, c, v, hn) AS (VALUES {cent_rows}),
    scored AS (
      SELECT corpus.vec_id, cents.j, cents.c,
             list_dot_product(
               corpus.e[cents.j * {d_sub} + 1 : cents.j * {d_sub} + {d_sub}],
               cents.v) - cents.hn AS s
      FROM corpus, cents
    ),
    assign AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT vec_id, j, c,
               row_number() OVER (
                 PARTITION BY vec_id, j ORDER BY s DESC, c ASC) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    qs AS (SELECT vec_id AS query_id, j, c, s FROM scored WHERE vec_id < 5),
    adc AS (
      SELECT q.query_id, a.vec_id,
             list_reduce(list(q.s ORDER BY q.j), (x, y) -> x + y) AS adc
      FROM assign a JOIN qs q ON a.j = q.j AND a.code = q.c
      WHERE a.vec_id <> q.query_id
      GROUP BY q.query_id, a.vec_id
    )
    SELECT query_id, vec_id, round(adc, 6) AS adc_score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, adc,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rank
      FROM adc
    ) WHERE rank <= {topk}
    """


@query("ann_pq_static_topk")
def ann_pq_static_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with a STATIC codebook
    (operators/similarity.py pq_codes/pq_adc_topk): the compressed-
    domain ANN scan that complements IVF — 8 subspaces × 16 codes over
    the 64-dim embeddings, corpus encoded to 8 small codes/vector,
    queries (vec_id<5) broadcast their per-subspace lookup tables into
    one narrow pass over the code table. Every float op (subspace dot
    folds, the left-associative ADC sum) is order-identical in the
    DuckDB twin, so candidates, scores and ranks match hash-exactly —
    same discipline as ann_ivf_static_topk. (The seeded codebook proves
    the machinery; retrieval quality needs ``train_pq_codebook``'s
    per-subspace k-means — recall-gated in tests/test_similarity.py.)"""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.pq_adc_topk(emb, queries_df, S.pq_codebook(), k=5)


ORACLES["ann_pq_static_topk"] = _pq_oracle()


@query(
    "mixture_resample_budget",
    f"""
    WITH tok AS (
      SELECT source, doc_id, len({_TOKS_SQL}) AS n_tok FROM documents
    ),
    per AS (
      SELECT source, count(*) AS n_docs, sum(n_tok) AS n_tokens
      FROM tok GROUP BY source
    ),
    shares AS (
      SELECT source, n_tokens / sum(n_tokens) OVER () AS share FROM per
    ),
    weights AS (
      SELECT source, share,
             pow(share, 0.7) / sum(pow(share, 0.7)) OVER () AS weight
      FROM shares
    ),
    rates AS (
      SELECT source,
             least(1.0, round(0.5 * (weight / share), 6)) AS rate
      FROM weights
    ),
    flagged AS (
      SELECT t.source, t.n_tok, r.rate,
             (('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 13))::BIGINT
              < floor(r.rate * {float(16 ** 13):.1f})::BIGINT) AS keep
      FROM tok t JOIN rates r USING (source)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(n_tok) FILTER (WHERE keep), 0) AS BIGINT)
             AS kept_tokens,
           round(any_value(rate), 6) AS rate
    FROM flagged GROUP BY source
    """,
)
def mixture_resample_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture realization (operators/pipeline.
    mixture_resample): α=0.7 temperature weights → per-source keep-rates
    at half budget → content-hashed Bernoulli membership, reported as
    per-source doc/token keep counts. The md5-prefix integer coin is
    bit-identical in the DuckDB twin, so the kept SET (not just its
    size) is what the hash-match certifies."""
    from cmsspark_spark.functions.text import tokens as _tokens
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    flagged = PL.mixture_resample(
        d, "source", alpha=0.7, budget_frac=0.5, key_col="doc_id"
    )
    n_tok = F.size(_tokens("text"))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("_keep")).alias("n_kept"),
        F.sum(n_tok).cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("_keep"), n_tok)), F.lit(0)
        ).cast("long").alias("kept_tokens"),
        F.round(F.first("_rate"), 6).alias("rate"),
    )


# ---------------------------------------------------------------------------
# TPC-H breadth, round 4 (q7/q8/q9/q13/q17/q18/q19/q22 shapes)
# ---------------------------------------------------------------------------


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(CAST(l.l_shipdate AS DATE)) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                           AND DATE '1997-12-31'
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year — the fact joins BOTH dims' nation lookups (supplier side and
    customer side, two broadcast copies of the same tiny table) with the
    symmetric nation-pair predicate applied post-join, then a 3-key
    agg."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    sd = F.col("l_shipdate").cast("date")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.filter(sd.between(F.lit("1996-01-01").cast("date"),
                             F.lit("1997-12-31").cast("date")))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year(sd).alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                            AND DATE '1997-12-31'
    ) GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share inside one consuming
    region — the 8-way snowflake (fact + part/supplier/orders/customer
    + two nation roles + region) with a conditional ratio-of-sums per
    order year. Dims broadcast; the fact shuffles once for the year
    agg."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    od = F.col("o_orderdate").cast("date")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            o.filter(od.between(F.lit("1996-01-01").cast("date"),
                                F.lit("1997-12-31").cast("date"))),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year(od).alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
                ) / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             year(CAST(o.o_orderdate AS DATE)) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name family. (The test schema has no partsupp, so profit is
    discounted revenue without the supplycost term — the join/agg
    topology is Q9's.) Part filter broadcast into the fact scan."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p.filter(F.col("p_name").like("%red%"))),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_profit")
        )
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution — LEFT outer
    join with an extra join-time predicate (filtering the RIGHT side
    pre-join, so zero-order customers survive with count 0), then a
    histogram re-aggregation of the counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per = (
        c.join(
            o.filter(F.col("o_orderpriority") != "5-LOW"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity order revenue — a correlated
    scalar subquery (per-part average quantity) decorrelated into a
    per-part aggregate joined back to the fact. Quantities are integral
    doubles, so both engines' averages are exact and the < threshold
    compare is cross-engine deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("_qty_cut")
    )
    return (
        li.join(
            F.broadcast(
                p.filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10))
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — an IN subquery on a
    grouped HAVING realized as a semi-join against the qualifying
    order-key aggregate, then the enrich joins and a top-100. The
    aggregate feeding the semi-join is ids-only. (The fact IS scanned
    again for the final enrich — the qualifying-keys aggregate and the
    detail pass are different subtrees, so nothing reuses; at scale the
    tiny qualifying id list is the thing to materialize, never the
    fact.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "_bk"),
                F.col("l_orderkey") == F.col("_bk"), "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
            .alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicates spanning
    BOTH join sides (brand/size/quantity triplets OR-ed) — the
    optimizer keeps the join on partkey and evaluates the residual
    disjunction post-join; part prunes to the union of branch
    predicates broadcast-side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    b1 = (
        (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
        & q.between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
        & q.between(10, 30)
    )
    b3 = (
        (F.col("p_type") == "PROMO") & F.col("p_size").between(20, 50)
        & q.between(20, 40)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(b1 | b2 | b3)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q22_global_sales_opportunity",
    """
    WITH cut AS (
      SELECT round(avg(c_acctbal), 2) AS a FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, cut
    WHERE c.c_acctbal > cut.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY c.c_mktsegment
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich prospects gone quiet (no orders since
    2000 — the fixture gives every customer SOME order, so the classic
    never-ordered form is vacuous here) — a scalar
    uncorrelated subquery (global positive-balance average, rounded to
    2dp on BOTH engines so the float threshold is cross-engine stable)
    broadcast as a one-row cross join, plus a NOT EXISTS anti-join,
    grouped by segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cut = c.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("_a")
    )
    return (
        c.join(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("_a"))
        .join(
            o.filter(
                F.col("o_orderdate").cast("date")
                >= F.lit("2000-01-01").cast("date")
            ).select(F.col("o_custkey").alias("_ok")).distinct(),
            F.col("c_custkey") == F.col("_ok"),
            "left_anti",
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def _semantic_dedup_oracle(threshold: float = 0.4) -> str:
    import numpy as np

    cents = _ivf_static_centroids()
    # mirror _centroid_assign's renormalization so literal values are
    # the exact doubles Spark folds against
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    cent_rows = ", ".join(f"({ci}, {_plane_sql(c)})" for ci, c in enumerate(cn))
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents(c, v) AS (VALUES {cent_rows}),
    scored AS (
      SELECT corpus.vec_id, cents.c,
             list_dot_product(corpus.e, cents.v) AS s
      FROM corpus, cents
    ),
    assign AS (
      SELECT vec_id, c AS cluster FROM (
        SELECT vec_id, c,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    normed AS (
      SELECT a.cluster, co.vec_id, co.e,
             sqrt(list_dot_product(co.e, co.e)) AS n
      FROM corpus co JOIN assign a USING (vec_id)
    ),
    pairs AS (
      SELECT a.cluster, a.vec_id AS ia, b.vec_id AS ib
      FROM normed a JOIN normed b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e) / (a.n * b.n) >= {threshold}
    ),
    drops AS (SELECT DISTINCT ib FROM pairs)
    SELECT nm.cluster AS centroid,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.ib) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.ib) AS BIGINT) AS n_kept
    FROM normed nm LEFT JOIN drops d ON nm.vec_id = d.ib
    GROUP BY nm.cluster
    """


@query("semantic_dedup_static")
def semantic_dedup_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.
    semantic_dedup, arXiv:2303.09540) with the STATIC seeded centroids:
    embeddings cluster to their nearest centroid, each cluster drops
    vectors with a lower-id neighbor at cosine ≥ 0.4, reported as
    per-cluster kept/dropped counts. The cluster id is the bucket —
    the quadratic cosine check never leaves a cluster, which is what
    makes the scheme viable at corpus scale (cross-cluster dups are the
    documented miss; the exact verifier twin gates recall in pytest).
    Assignment tie-break and every fold mirror the DuckDB twin, so the
    dropped SET is certified hash-exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    flagged = S.semantic_dedup(
        emb, _ivf_static_centroids(), threshold=0.4, impl="sql"
    )
    return flagged.groupBy(F.col("_cluster").alias("centroid")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count("_dropped").alias("n_dropped"),
        (F.count(F.lit(1)) - F.count("_dropped")).alias("n_kept"),
    )


ORACLES["semantic_dedup_static"] = _semantic_dedup_oracle()


@query(
    "grouping_sets_revenue",
    """
    SELECT coalesce(n_name, '(all)') AS nation,
           coalesce(o_orderpriority, '(all)') AS priority,
           CAST(grouping(n_name) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), (o_orderpriority))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube,
    A12): (nation, priority) cells plus BOTH one-dimension margins in a
    single pass — one Expand node feeding one aggregation instead of a
    union of three scans; ``grouping()`` bits disambiguate real nulls
    from margin rows, coalesced to '(all)' labels on both engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    gs = base.groupingSets(
        [["n_name", "o_orderpriority"], ["n_name"], ["o_orderpriority"]],
        "n_name", "o_orderpriority",
    ).agg(
        (F.grouping("n_name") * 2 + F.grouping("o_orderpriority"))
        .cast("long").alias("gid"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return gs.select(
        F.coalesce("n_name", F.lit("(all)")).alias("nation"),
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        "gid", "revenue", "n_orders",
    )


@query(
    "unigram_logprob_quality",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    freq AS (
      SELECT token, count(*) AS tf FROM tok GROUP BY token
    ),
    tot AS (SELECT sum(tf) AS n FROM freq),
    doc_scores AS (
      SELECT t.doc_id, t.source,
             avg(ln(tot.n / f.tf)) AS nll
      FROM tok t JOIN freq f USING (token), tot
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(nll), 4) AS avg_nll,
           round(min(nll), 4) AS min_nll,
           round(max(nll), 4) AS max_nll
    FROM doc_scores GROUP BY source
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring — the CCNet-style perplexity proxy
    (Wenzek et al. 2020 filter by LM perplexity; the unigram LM is its
    degenerate, fully-SQL form): train token frequencies on the corpus
    itself, score each doc by its mean negative log-likelihood
    −avg ln p(token), roll up per source.

    Plan shape: the exploded token table is referenced three times
    (frequency agg, grand total, scoring join), and Spark RECOMPUTES
    the explode for each — 3 corpus scans in this declarative form
    (verified in the executed plan; no ReusedExchange fires because the
    subtrees differ). At 100 TB, materialize the token table once
    (persist/checkpoint, or a staged parquet) and all three consumers
    read the materialization; hot tokens in the scoring join are the
    AQE skew-join case. Scores reduce per doc then per source — floats
    round(4) on both engines, well inside cross-engine summation
    noise."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(_tokens("text")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    tot = freq.agg(F.sum("tf").alias("n"))
    doc_scores = (
        tok.join(freq, on="token")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log(F.col("n") / F.col("tf"))).alias("nll"))
    )
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


@query("bpe_vocab_merges")  # oracle registered below _bpe_doc_counts_cte
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (operators/pipeline.
    train_bpe_merges, Sennrich et al. 2016) over the documents table:
    the first 8 learned merges as ordered rows. ORACLE-BACKED since
    r10 (retiring the rows-only class): the DuckDB twin replays the
    full training loop as 8 unrolled CTE triples (pair counts over
    chr(31)-delimited symbol strings → 1-row argmax with the
    (count DESC, pair ASC) tie-break → replace() merge application —
    the proven ``_bpe_doc_counts_cte`` machinery the length-profile
    oracle already uses) and selects the 8 picked merges in rank
    order. Also pinned against a pure-Python reference trainer in
    tests/test_pipeline.py::test_bpe_merges_match_reference."""
    from cmsspark_spark.operators.pipeline import train_bpe_merges

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(d, "text", k=8)
    rows = [
        (i + 1, left, right, left + right)
        for i, (left, right) in enumerate(merges)
    ]
    return local_frame(
        spark,
        rows, "rank: int, left: string, right: string, merged: string"
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-and-sum forecast — every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan, no join, no shuffle beyond the single global agg. The
    sanity-check query for scan-level filter pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (sd >= F.lit("1997-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue — the
    revenue 'view' computed once, its scalar max folded back as a
    1-row broadcast equality (revenue is rounded to 2dp on BOTH
    engines before the max-compare, so float summation order can't
    split the winner)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    sd = F.col("l_shipdate").cast("date")
    revenue = (
        li.filter(
            (sd >= F.lit("1997-01-01").cast("date"))
            & (sd < F.lit("1997-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q20_promo_part_suppliers",
    """
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'
      )
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 50
    )
    ORDER BY s.s_name
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved real volume of a part-name
    family in a year — NESTED IN subqueries realized as broadcast
    semi-joins: part filter prunes the fact, the per-supplier HAVING
    aggregate is ids-only, and the outer IN is a left-semi against the
    supplier dim. Quantities are integral so the HAVING threshold is
    exact on both engines."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    movers = (
        li.filter(
            (sd >= F.lit("1997-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
        )
        .join(
            F.broadcast(
                p.filter(F.col("p_name").like("blue%")).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


@query(
    "quality_classifier_gate",
    f"""
    WITH feat AS (
      SELECT source, doc_id,
             length(text) AS n_chars,
             len({_TOKS_SQL}) AS n_tokens,
             len(list_filter({_TOKS_SQL}, t -> list_contains(
               ['the','a','an','of','and','or','is','in','to','it'], t)))
               / greatest(len({_TOKS_SQL}), 1) AS sw_ratio,
             length(array_to_string({_TOKS_SQL}, ''))
               / greatest(len({_TOKS_SQL}), 1) AS mean_tok_len
      FROM documents
    ),
    scored AS (
      SELECT source, doc_id,
             round(1.0 / (1.0 + exp(-(
               -5.1 + 0.8 * ln(1 + n_tokens) + 6.0 * sw_ratio
               + 0.35 * mean_tok_len))), 4) AS score
      FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE score >= 0.5) AS BIGINT) AS n_kept,
           round(avg(score), 4) AS avg_score
    FROM scored GROUP BY source
    """,
)
def quality_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier gate — the CCNet/GPT-3 pipeline shape
    where a classifier trained OFFLINE ships as constants and scores
    the whole corpus in one narrow pass: logistic score over cheap
    structural features (log token count, stopword ratio, mean token
    length — functions/text.py's feature family), docs kept at 0.5.
    Pure Catalyst (the weights are plan literals, like the LSH planes);
    scores round to 4dp on both engines before the threshold compare so
    libm exp/ln ulp differences can't flip membership."""
    toks = T.tokens("text")
    n_tokens = F.size(toks)
    sw = F.size(
        F.filter(toks, lambda t: t.isin(
            "the", "a", "an", "of", "and", "or", "is", "in", "to", "it"
        ))
    ) / F.greatest(n_tokens, F.lit(1))
    mtl = F.length(F.array_join(toks, "")) / F.greatest(n_tokens, F.lit(1))
    z = (
        F.lit(-5.1)
        + 0.8 * F.log(1 + n_tokens)
        + 6.0 * sw
        + 0.35 * mtl
    )
    score = F.round(1.0 / (1.0 + F.exp(-z)), 4)
    d = _t(spark, sf_dir, "documents").withColumn("score", score)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("score") >= 0.5).alias("n_kept"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )


@query(
    "order_rank_distribution",
    """
    SELECT n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(pr), 4) AS avg_percent_rank,
           round(max(cd), 4) AS max_cume_dist,
           round(sum(CASE WHEN quartile = 1 THEN o_totalprice END), 2)
             AS q1_revenue,
           round(max(CASE WHEN pr = 0 THEN o_totalprice END), 2)
             AS top_order_price
    FROM (
      SELECT n.n_name, o.o_totalprice,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             ntile(4) OVER w AS quartile
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WINDOW w AS (PARTITION BY n.n_name ORDER BY o.o_totalprice DESC,
                   o.o_orderkey)
    ) GROUP BY n_name
    """,
)
def order_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth in one pass: percent_rank, cume_dist and
    ntile over the same per-nation price ordering (W1's remaining
    ranking family). Ties pinned by orderkey so every rank statistic is
    deterministic; one window shuffle serves all three functions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name", "o_totalprice",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )
    return ranked.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("pr"), 4).alias("avg_percent_rank"),
        F.round(F.max("cd"), 4).alias("max_cume_dist"),
        F.round(
            F.sum(F.when(F.col("quartile") == 1, F.col("o_totalprice"))), 2
        ).alias("q1_revenue"),
        F.round(
            F.max(F.when(F.col("pr") == 0, F.col("o_totalprice"))), 2
        ).alias("top_order_price"),
    )


@query(
    "variant_props_shred",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k
    FROM (
      SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events
    ) GROUP BY event_type
    """,
)
def variant_props_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` shreds once into the open binary encoding and every
    downstream ``variant_get`` is a typed path read — the modern
    replacement for per-path ``get_json_object`` string re-parsing
    (json_props_extract keeps the legacy form for comparison). At 100
    TB variant columns store shredded and let the reader prune paths;
    here the plan stays a narrow map either way."""
    ev = _t(spark, sf_dir, "events").withColumn("_v", F.parse_json("props"))
    k = F.variant_get(F.col("_v"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
    )


@query(
    "session_window_native",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS session_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization (30-min gap): Spark's
    built-in dynamic-gap session assignment, oracle-twinned against the
    classic lag→flag→running-sum construction (the sessionize_users
    form) — proving the two define identical sessions. The native form
    is the streaming-ready one: the same expression works under
    ``withWatermark`` with state cleanup for free."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            "n_events",
            "session_value",
        )
    )


@query(
    "listagg_user_sources",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
             AS event_types,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE user_id % 37 = 0
    GROUP BY user_id
    """,
)
def listagg_user_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's ANSI ``LISTAGG(DISTINCT
    …) WITHIN GROUP (ORDER BY …)`` (the deterministic form; unordered
    listagg is registry-banned for the same reason unordered
    collect_list is) vs DuckDB's ``string_agg(DISTINCT … ORDER BY)``.
    The A6 collect_set+sort_array+array_join construction gets the
    same answer; this covers the built-in."""
    ev = _t(spark, sf_dir, "events")
    ev.where(F.col("user_id") % 37 == 0).createOrReplaceTempView(
        "_listagg_events"
    )
    return spark.sql(
        """
        SELECT user_id,
               listagg(DISTINCT event_type, ',')
                 WITHIN GROUP (ORDER BY event_type) AS event_types,
               count(*) AS n_events
        FROM _listagg_events GROUP BY user_id
        """
    )


@query(
    "try_arith_safety",
    """
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN try_cast(substr(o_orderpriority, 1, 1)
                              AS INT) IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_numeric_prefix,
           round(sum(CASE WHEN o_totalprice - 1000.0 = 0 THEN NULL
                          ELSE o_totalprice / (o_totalprice - 1000.0)
                     END), 4) AS sum_safe_ratio
    FROM orders GROUP BY o_orderpriority
    """,
)
def try_arith_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety family: ``try_cast`` (null, not error, on bad
    input) and ``try_divide`` (null on /0) — how the engine keeps
    ANSI-strict semantics without job-killing exceptions on dirty
    data. The DuckDB twin spells try_divide as its NULLIF form."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.try_to_number(
                F.substring("o_orderpriority", 1, 1), F.lit("9")
            ).isNotNull().cast("long")
        ).alias("n_numeric_prefix"),
        F.round(
            F.sum(
                F.try_divide(
                    F.col("o_totalprice"), F.col("o_totalprice") - 1000.0
                )
            ),
            4,
        ).alias("sum_safe_ratio"),
    )


def _ivfpq_oracle(nprobe: int = 2, k: int = 5) -> str:
    import numpy as np

    cents = _ivf_static_centroids()
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    cent_rows = ", ".join(f"({ci}, {_plane_sql(c)})" for ci, c in enumerate(cn))
    cb = S.pq_codebook()
    m, kk, d_sub = cb.shape
    cb_rows = ", ".join(
        f"({j}, {c}, {_plane_sql(cb[j, c])}, "
        f"{float(np.dot(cb[j, c], cb[j, c])) / 2.0:.17e})"
        for j in range(m) for c in range(kk)
    )
    return f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents(c, v) AS (VALUES {cent_rows}),
    cb(j, code, w, hn) AS (VALUES {cb_rows}),
    cscored AS (
      SELECT corpus.vec_id, cents.c,
             list_dot_product(corpus.e, cents.v) AS s
      FROM corpus, cents
    ),
    cranked AS (
      SELECT vec_id, c, s, row_number() OVER (
        PARTITION BY vec_id ORDER BY s DESC, c DESC) AS rk
      FROM cscored
    ),
    assign AS (SELECT vec_id, c AS cstar FROM cranked WHERE rk = 1),
    resid AS (
      SELECT a.vec_id, a.cstar,
             list_transform(list_zip(co.e, ct.v), x -> x[1] - x[2]) AS r
      FROM assign a
      JOIN corpus co USING (vec_id)
      JOIN cents ct ON ct.c = a.cstar
    ),
    rscored AS (
      SELECT resid.vec_id, resid.cstar, cb.j, cb.code,
             list_dot_product(
               resid.r[cb.j * {d_sub} + 1 : cb.j * {d_sub} + {d_sub}],
               cb.w) - cb.hn AS s
      FROM resid, cb
    ),
    codes AS (
      SELECT vec_id, cstar, j, code FROM (
        SELECT vec_id, cstar, j, code, row_number() OVER (
          PARTITION BY vec_id, j ORDER BY s DESC, code ASC) AS rk
        FROM rscored
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, c FROM cranked
      WHERE vec_id < 5 AND rk <= {nprobe}
    ),
    qresid AS (
      SELECT p.query_id, p.c,
             list_transform(list_zip(co.e, ct.v), x -> x[1] - x[2]) AS r
      FROM probes p
      JOIN corpus co ON co.vec_id = p.query_id
      JOIN cents ct ON ct.c = p.c
    ),
    qnorm AS (
      SELECT query_id, c, list_dot_product(r, r) AS qcn2 FROM qresid
    ),
    qscored AS (
      SELECT q.query_id, q.c, cb.j, cb.code,
             list_dot_product(
               q.r[cb.j * {d_sub} + 1 : cb.j * {d_sub} + {d_sub}],
               cb.w) - cb.hn AS s
      FROM qresid q, cb
    ),
    adc AS (
      SELECT qs.query_id, cd.vec_id,
             list_reduce(list(qs.s ORDER BY qs.j), (x, y) -> x + y)
               - 0.5 * any_value(qn.qcn2) AS adc
      FROM codes cd
      JOIN qscored qs ON qs.c = cd.cstar AND qs.j = cd.j
                     AND qs.code = cd.code
      JOIN qnorm qn ON qn.query_id = qs.query_id AND qn.c = cd.cstar
      WHERE cd.vec_id <> qs.query_id
      GROUP BY qs.query_id, cd.vec_id
    )
    SELECT query_id, vec_id, round(adc, 6) AS adc_score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, adc, row_number() OVER (
        PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rank
      FROM adc
    ) WHERE rank <= {k}
    """


@query("ann_ivfpq_static_topk")
def ann_ivfpq_static_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (operators/similarity.ivfpq_static_topk): the
    two-level production ANN — coarse lists from the static IVF
    centroids, PQ codes on residuals, queries scan nprobe=2 lists in
    code space. Same hash-exact discipline as its single-level
    siblings (ann_ivf_static_topk, ann_pq_static_topk): every fold,
    tie-break and the left-associative ADC sum are mirrored in the
    DuckDB twin."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.ivfpq_static_topk(
        emb, queries_df, _ivf_static_centroids(), S.pq_codebook(),
        k=5, nprobe=2,
    )


ORACLES["ann_ivfpq_static_topk"] = _ivfpq_oracle()


@query(
    "hll_distinct_sketch",
    """
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
               AS v
      FROM events
    ),
    regs AS (
      SELECT event_type, v % 64 AS bucket,
             max(CASE WHEN v // 64 = 0 THEN 47
                      ELSE 47 - length(bin(v // 64)) END) AS register
      FROM h GROUP BY event_type, bucket
    ),
    template AS (
      SELECT e.event_type, g.b AS bucket
      FROM (SELECT DISTINCT event_type FROM events) e,
           (SELECT unnest(generate_series(0, 63)) AS b) g
    ),
    full_regs AS (
      SELECT t.event_type, t.bucket,
             coalesce(r.register, 0) AS register
      FROM template t LEFT JOIN regs r
        ON t.event_type = r.event_type AND t.bucket = r.bucket
    ),
    est AS (
      SELECT event_type,
             list_reduce(
               list(pow(2.0, -register) ORDER BY bucket),
               (x, y) -> x + y) AS s,
             count(*) FILTER (WHERE register = 0) AS zeros
      FROM full_regs GROUP BY event_type
    ),
    fin AS (
      SELECT event_type,
             CASE WHEN (0.709 * 64 * 64 / s) <= 160.0 AND zeros > 0
                  THEN 64 * ln(64.0 / zeros)
                  ELSE 0.709 * 64 * 64 / s END AS e
      FROM est
    )
    SELECT f.event_type,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           round(f.e, 2) AS hll_estimate,
           round(abs(round(f.e, 2) - x.n_exact) / x.n_exact, 4) AS rel_err
    FROM fin f JOIN (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    ) x USING (event_type)
    """,
)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (operators/sketches.hll_build/
    hll_estimate) vs the exact distinct count, per event type — the
    mergeable distinct sketch completing the CM/Bloom/HLL trio. Unlike
    `approx_distinct_users` (native approx_count_distinct, rows-only:
    engine-private sketch), THIS estimate is bit-reproducible in
    DuckDB — integer bit-length registers, bucket-ordered float fold —
    so the hash gate certifies the whole sketch pipeline, and rel_err
    is reported against the exact count in the same output."""
    ev = _t(spark, sf_dir, "events")
    regs = K.hll_build(ev, "user_id", ["event_type"])
    est = K.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, on="event_type").select(
        "event_type",
        "n_exact",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_err"),
    )


@query(
    "chunk_overlap_windows",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ),
    base AS (
      SELECT doc_id, tk, len(tk) AS n,
             greatest(CAST(ceil((len(tk) - 16) / 48.0) AS INT), 1)
               AS n_chunks
      FROM tok WHERE len(tk) > 0
    ),
    chunks AS (
      -- per-row LATERAL series: length-unbounded (same fix as
      -- chunk_dedup_rate; the old generate_series(0, 127) cross
      -- silently capped docs > 16 + 128*48 = 6160 tokens)
      SELECT doc_id, u.i AS chunk_idx,
             tk[u.i * 48 + 1 : u.i * 48 + 64] AS chunk
      FROM base, LATERAL (
        SELECT unnest(generate_series(0, n_chunks - 1)) AS i) u
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(len(chunk)) AS BIGINT) AS chunk_tokens,
           md5(string_agg(array_to_string(chunk, ' '), '|'
               ORDER BY chunk_idx)) AS chunks_digest
    FROM chunks GROUP BY doc_id
    """,
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (operators/pipeline.
    chunk_overlap: 64-token windows, stride 48 ⇒ 16 shared tokens) —
    per doc, chunk count, total chunk tokens, and an order-pinned md5
    digest of the chunk texts, so the hash gate certifies every
    boundary and every overlap byte-exactly. (The oracle caps its
    synthetic series at 128 windows ≈ 6k tokens/doc — far above the
    documents table's max; the Spark side is uncapped.)"""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    ch = PL.chunk_overlap(d, chunk_tokens=64, stride=48)
    return ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("chunk_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda e: e["chunk_text"],
                ),
                "|",
            )
        ).alias("chunks_digest"),
    )


@query(
    "argmax_maxby_order",
    """
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           arg_max(o_orderkey,
                   printf('%018.2f|%012d', o_totalprice, o_orderkey))
             AS best_orderkey,
           round(max(o_totalprice), 2) AS best_price
    FROM orders
    WHERE o_custkey % 41 = 0
    GROUP BY o_custkey
    """,
)
def argmax_maxby_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shuffle argmax via ``max_by`` — the modern form of the
    group-max + join-back idiom (argmax_join_max_qty_line keeps the
    classic shape): each customer's priciest order in ONE aggregation,
    no second scan, no join. ``max_by`` ties are engine-arbitrary, so
    the ordering key is a fixed-width sortable string composite
    (price|orderkey) — unique, hence deterministic, and printf-identical
    in DuckDB's arg_max twin."""
    o = _t(spark, sf_dir, "orders")
    key = F.format_string("%018.2f|%012d", "o_totalprice", "o_orderkey")
    return (
        o.filter(F.col("o_custkey") % 41 == 0)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max_by("o_orderkey", key).alias("best_orderkey"),
            F.round(F.max("o_totalprice"), 2).alias("best_price"),
        )
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT ps.l_partkey, ps.l_suppkey, ps.supplycost
      FROM ps
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT round(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name,
           p.p_partkey, p.p_brand, p.p_type, s.s_suppkey,
           round(eu.supplycost, 2) AS supplycost
    FROM part p
    JOIN eu ON eu.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = eu.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15
      AND eu.supplycost = (
        SELECT min(e2.supplycost) FROM eu e2
        WHERE e2.l_partkey = p.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier — the correlated scalar-min
    subquery (cheapest regional supplier per part) decorrelated into a
    per-part min aggregate equality-joined back to the candidate set.
    The schema has no partsupp table, so the part↔supplier cost
    relation is DERIVED first: per (part, supplier) supplycost =
    min(l_extendedprice) — min over raw doubles is summation-order-free,
    so the decisive `cost = per-part-min` equality is bit-exact in both
    engines (no float-sum tie risk on the join key). Region restriction
    lands BEFORE the per-part min (both candidate and threshold sides),
    as in the real Q2. Plan: the fact aggregates once into ps; supplier/
    nation/region dims broadcast; the per-part min re-agg is ids+cost
    only; final enrich joins are broadcast. Deterministic LIMIT: the
    sort key is completed with the unique (p_partkey, s_suppkey)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu = ps.join(
        F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    per_part_min = eu.groupBy(F.col("l_partkey").alias("_mpk")).agg(
        F.min("supplycost").alias("_mincost")
    )
    return (
        eu.join(
            per_part_min,
            (F.col("l_partkey") == F.col("_mpk"))
            & (F.col("supplycost") == F.col("_mincost")),
        )
        .join(
            F.broadcast(p.filter(F.col("p_size") == 15)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            "p_type",
            "s_suppkey",
            F.round("supplycost", 2).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


@query(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey, sum(l.l_extendedprice * l.l_quantity) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l.l_partkey
    )
    SELECT v.l_partkey AS partkey, round(v.value, 2) AS value
    FROM val v, (SELECT sum(value) * 0.001 AS cut FROM val) t
    WHERE round(v.value, 2) > round(t.cut, 2)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important-stock identification — a grouped
    value aggregate HAVING-filtered against a GLOBAL scalar threshold
    over the same aggregate (sum × 0.001). The scalar lands as a 1-row
    broadcast cross join, so the per-part values are computed ONCE and
    reused for both sides (Spark caches nothing here: the val subtree
    is small — partkey+double — and AQE reuses the exchange where
    eligible). Threshold compare is on 2dp-rounded values BOTH sides so
    a last-ulp float-sum divergence cannot flip a borderline part.
    Supplier→nation prunes the fact before the value agg — the only
    fact shuffle is the per-part sum."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    supp = (
        s.join(
            F.broadcast(
                n.filter(F.col("n_name").isin("NATION_3", "NATION_7"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
                "value"
            )
        )
    )
    cut = val.agg((F.sum("value") * 0.001).alias("cut"))
    return (
        val.join(F.broadcast(cut))
        .filter(F.round("value", 2) > F.round("cut", 2))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("value", 2).alias("value"),
        )
    )


@query(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n.n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame supplier — a correlated EXISTS
    (another supplier shipped on the order) AND NOT EXISTS (no OTHER
    supplier also flagged) on the same fact. The schema lacks
    commit/receipt dates, so "late" is adapted to l_returnflag='R' on a
    finalized (o_orderstatus='F') order. The oracle keeps the literal
    double-EXISTS; the Spark side DECORRELATES both into one per-order
    aggregate — n_supp = distinct suppliers, n_r_supp = distinct
    suppliers with a returned line — because for a flagged row l1:
    EXISTS(other supplier) ⇔ n_supp ≥ 2, and NOT EXISTS(other flagged
    supplier) ⇔ n_r_supp = 1 (l1's own supplier is already one of
    them). The fact shuffles ONCE to (order, supplier) grain carrying
    its per-pair flagged-line count; both EXISTS predicates and the
    final numwait re-derive from that grain — no expand for the two
    distinct counts, no second line-grain scan, and the only
    fact-to-fact join is (order,supplier)⋈(order), orders of magnitude
    below line grain. Catalyst would instead rewrite each EXISTS as
    its own line-grain join — the manual fold is the 100 TB-honest
    shape."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    order_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("_cnt_r")
    )
    per_order = order_supp.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum((F.col("_cnt_r") > 0).cast("int")).alias("_n_r_supp"),
    )
    supp = (
        s.join(
            F.broadcast(
                n.filter(
                    F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        order_supp.filter(F.col("_cnt_r") > 0)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(per_order, F.col("l_orderkey") == F.col("_ok"))
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_r_supp") == 1))
        .groupBy("s_name")
        .agg(F.sum("_cnt_r").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "dedup_repeated_spans",
    f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS tk
      FROM documents
    ),
    w AS (
      SELECT doc_id, array_to_string(tk[g.i:g.i+11], ' ') AS h
      FROM tk, LATERAL (SELECT unnest(generate_series(1,
                        greatest(len(tk) - 11, 0))) AS i) g
    ),
    dup AS (
      SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS nd
      FROM w WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.tk) - 11, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup_windows,
           round(CASE WHEN len(t.tk) - 11 > 0
                      THEN coalesce(p.nd, 0) / (len(t.tk) - 11.0)
                      ELSE 0 END, 4) AS dup_ratio
    FROM tk t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span gate (operators/dedup.
    repeated_span_stats): 12-token sliding-window hashes; spans seen in
    ≥2 distinct docs are duplicated text; per doc the duplicated-window
    count and ratio. Completes the dedup ladder between line_dedup
    (verbatim lines) and decontaminate (corpus↔benchmark): verbatim
    RUNS inside otherwise-unique documents. Shuffles carry (hash, id)
    pairs only."""
    d = _t(spark, sf_dir, "documents")
    return D.repeated_span_stats(d, window=12)


@query(
    "dedup_span_strip",
    f"""
    WITH tk AS (
      SELECT doc_id, text, {_TOKS_SQL} AS tk,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '')
               AS rtk
      FROM documents
    ),
    occ AS (
      SELECT doc_id, g.i - 1 AS pos,
             array_to_string(tk[g.i:g.i+11], ' ') AS h
      FROM tk, LATERAL (SELECT unnest(generate_series(1,
                        greatest(len(tk) - 11, 0))) AS i) g
    ),
    el AS (
      SELECT h, min(printf('%012d|%06d', doc_id, pos)) AS keep
      FROM occ GROUP BY h HAVING count(*) >= 2
    ),
    rem AS (
      SELECT o.doc_id, o.pos AS s, o.pos + 12 AS e
      FROM occ o JOIN el ON o.h = el.h
      WHERE printf('%012d|%06d', o.doc_id, o.pos) <> el.keep
    ),
    ord AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM rem
    ),
    grp AS (
      SELECT *, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS g
      FROM ord
    ),
    isl AS (
      SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, g
    ),
    isll AS (
      SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS isl,
             sum(e - s) AS rem_cnt
      FROM isl GROUP BY doc_id
    ),
    built AS (
      SELECT t.doc_id, t.text,
             [t.rtk[i] for i in generate_series(1, len(t.rtk))
              if len(list_filter(coalesce(l.isl,
                       []::STRUCT(s BIGINT, e BIGINT)[]),
                     m -> i - 1 >= m.s AND i - 1 < m.e)) = 0] AS kept,
             coalesce(l.rem_cnt, 0) AS removed
      FROM tk t LEFT JOIN isll l USING (doc_id)
    )
    SELECT doc_id,
           CASE WHEN removed > 0
                THEN coalesce(array_to_string(kept, ' '), '')
                ELSE text END AS text,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           CAST(removed AS BIGINT) AS n_tokens_removed
    FROM built
    """,
)
def dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (operators/dedup.
    strip_repeated_spans): 12-token windows repeated ≥2 times anywhere
    elect one global survivor occurrence (min (doc,pos) as a
    fixed-width sortable string — tie-free); every other occurrence's
    token interval is stripped, overlapping intervals merge row-locally
    (aggregate fold ≡ the oracle's gaps-and-islands windows), and the
    text is rebuilt from the surviving ORIGINAL-CASE tokens — matching
    is case-insensitive, stripping never case-folds, and untouched
    docs stay byte-exact (ADVICE r5). The hash gate certifies election,
    island merging AND reassembly against DuckDB. Shuffles carry
    (hash, doc, pos) triples; text never leaves its partition."""
    d = _t(spark, sf_dir, "documents")
    return D.strip_repeated_spans(d, window=12)


@query(
    "pack_boundary_masks",
    f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, doc_tokens,
             CAST(coalesce(sum(doc_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, source, doc_tokens, s,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id
      FROM offs WHERE doc_tokens > 0
    )
    SELECT source, chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                    - greatest(s, chunk_id * 512)) AS BIGINT) AS chunk_tokens,
           coalesce(array_to_string(list(s - chunk_id * 512 ORDER BY s)
             FILTER (WHERE s >= chunk_id * 512), ','), '')
             AS boundaries,
           CAST(count(*) FILTER (WHERE s >= chunk_id * 512) AS INT)
             AS n_starts
    FROM chunks GROUP BY source, chunk_id
    """,
)
def pack_boundary_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence attention-reset masks (concat_pack_chunks
    with_boundaries): per (source shard, chunk), the sorted in-chunk
    offsets where a document STARTS — the block-diagonal attention
    boundary list an LLM trainer consumes with each packed window
    (docs continuing from the previous chunk contribute no boundary).
    Same sharded parallel-cumsum plan as pack_concat_chunks_sharded;
    the boundary fold is the per-chunk re-agg it already does. The
    boundary list is serialized comma-joined (like collect_set_sources)
    so the cross-engine hash gate can canonicalize it."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    chunks = PL.concat_pack_chunks(
        d, ctx_len=512, partition_cols=["source"], with_boundaries=True
    )
    return chunks.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens_in_chunk").alias("chunk_tokens"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("start_in_chunk")),
                lambda x: x.cast("string"),
            ),
        ).alias("boundaries"),
        F.count("start_in_chunk").cast("int").alias("n_starts"),
    )


@query(
    "semantic_decontaminate_flags",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bench AS (SELECT * FROM e WHERE vec_id % 20 = 0),
    corpus AS (SELECT * FROM e WHERE vec_id % 20 <> 0),
    scored AS (
      SELECT c.vec_id,
             max(list_inner_product(c.v, b.v)
                 / (sqrt(list_inner_product(c.v, c.v))
                    * sqrt(list_inner_product(b.v, b.v))))
               AS max_cos
      FROM corpus c, bench b
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(max_cos, 6) AS max_bench_cosine,
           max_cos >= 0.4 AS contaminated
    FROM scored
    """,
)
def semantic_decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination (operators/similarity.
    semantic_decontaminate): every 20th embedding plays the benchmark
    set; corpus rows whose max cosine against any benchmark vector
    reaches 0.4 are flagged. The benchmark broadcasts; the corpus
    makes one narrow pass + per-id max re-agg — the paraphrase-level
    complement to decontaminate_ngram_overlap / bloom_decontaminate.
    Max-of-cosines is order-free (each cosine is a deterministic
    left-fold dot), so the 6dp rounding is cross-engine exact."""
    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return S.semantic_decontaminate(corpus, bench, threshold=0.4)


@query(
    "bigram_logprob_quality",
    f"""
    WITH tk AS (
      SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(tk) AS token FROM tk
    ),
    uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM uni),
    big AS (
      SELECT doc_id, source, u.bg.w1 AS w1, u.bg.w2 AS w2
      FROM tk, LATERAL (SELECT unnest(
             [struct_pack(w1 := tk[i], w2 := tk[i+1])
              for i in generate_series(1, len(tk) - 1)]) AS bg) u
      WHERE len(tk) >= 2
    ),
    bigc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
    doc_scores AS (
      SELECT b.doc_id, b.source,
             avg(-ln(0.7 * bc.c12 / u1.c + 0.3 * u2.c / tot.n)) AS nll
      FROM big b
      JOIN bigc bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
      JOIN uni u1 ON u1.token = b.w1
      JOIN uni u2 ON u2.token = b.w2, tot
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(nll), 4) AS avg_nll,
           round(min(nll), 4) AS min_nll,
           round(max(nll), 4) AS max_nll
    FROM doc_scores GROUP BY source
    """,
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with interpolated backoff — one rung
    up the perplexity-filter ladder from unigram_logprob_quality:
    p(w2|w1) = 0.7·c(w1,w2)/c(w1) + 0.3·c(w2)/N (Jelinek-Mercer
    smoothing), per-doc mean NLL over bigram positions, rolled up per
    source. Bigrams come from a row-local array zip (explode stays the
    generator directly — the fast Generate shape); the counts tables
    are vocabulary²-bounded, far smaller than the corpus, and the
    scoring joins are the AQE skew-join case for hot bigrams. The
    interpolation is computed from exact integer counts in both
    engines; per-doc averages round(4) like the unigram twin."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    tkc = _tokens("text")
    base = d.select("doc_id", "source", tkc.alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    big = base.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_tk") - 1),
                lambda i: F.struct(
                    F.element_at("_tk", i).alias("w1"),
                    F.element_at("_tk", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")
    tok = d.select(F.explode(_tokens("text")).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    bigc = big.groupBy(
        F.col("w1").alias("_b1"), F.col("w2").alias("_b2")
    ).agg(F.count(F.lit(1)).alias("c12"))
    doc_scores = (
        big.join(
            bigc,
            (F.col("w1") == F.col("_b1")) & (F.col("w2") == F.col("_b2")),
        )
        .join(
            uni.select(F.col("token").alias("_t1"), F.col("c").alias("c1")),
            F.col("w1") == F.col("_t1"),
        )
        .join(
            uni.select(F.col("token").alias("_t2"), F.col("c").alias("c2")),
            F.col("w2") == F.col("_t2"),
        )
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.avg(
                -F.log(
                    0.7 * F.col("c12") / F.col("c1")
                    + 0.3 * F.col("c2") / F.col("n")
                )
            ).alias("nll")
        )
    )
    return doc_scores.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS_SQL}) AS token FROM documents
    ),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    df AS (
      SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    tf AS (
      SELECT source, token, count(*) AS tf FROM tok GROUP BY source, token
    ),
    scored AS (
      SELECT tf.source, tf.token,
             tf.tf * ln(n_docs.n / df.df) AS score
      FROM tf JOIN df USING (token), n_docs
    ),
    ranked AS (
      SELECT source, token, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, token ASC) AS rk
      FROM scored
    )
    SELECT source, token, round(score, 4) AS tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic terms by tf-idf: term frequency within
    the source × inverse document frequency across the corpus
    (ln(N/df)), top-3 per source with deterministic ties (score DESC,
    token ASC). The df and tf tables are vocabulary-bounded; N is a
    1-row broadcast; the rank window partitions by source — no global
    sort. Integer counts keep the score product cross-engine exact
    before the 4dp rounding."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(_tokens("text")).alias("token"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n"))
    df_t = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(df_t, on="token")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "source", "token", F.round("score", 4).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@query(
    "training_order_assign",
    """
    WITH keyed AS (
      SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR) || '|ord') AS k
      FROM documents
    )
    SELECT doc_id, source,
           CAST(('0x' || substring(k, 1, 8))::BIGINT % 8 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY ('0x' || substring(k, 1, 8))::BIGINT % 8
             ORDER BY k, doc_id) AS BIGINT) AS position
    FROM keyed
    """,
)
def training_order_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order assignment: every doc gets a
    (shard, position) from a salted content-key hash — the
    deterministic global shuffle a training run needs so data order is
    stable across pipeline re-runs and independent of input
    partitioning (same property family as hash_split_assign). The
    rank window partitions per shard (no global sort); ties are
    impossible (md5 collisions aside, doc_id breaks them)."""
    d = _t(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|ord")))
    shard = (
        F.conv(F.substring(k, 1, 8), 16, 10).cast("bigint") % 8
    ).cast("int")
    w = Window.partitionBy(shard).orderBy(k, F.col("doc_id"))
    return d.select(
        "doc_id",
        "source",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("position"),
    )


@query(
    "paragraph_dedup_within_doc",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    posd AS (
      SELECT doc_id, tk,
             unnest(generate_series(
               0, greatest(CAST(ceil(len(tk)/2.0) AS INT) - 1, 0))) AS i
      FROM toks
    ),
    para AS (
      SELECT doc_id, i,
             array_to_string(tk[(i*2+1):(i*2+2)], ' ') AS para
      FROM posd
      WHERE len(trim(array_to_string(tk[(i*2+1):(i*2+2)], ' '))) >= 1
    ),
    ranked AS (
      SELECT doc_id, para, i,
             row_number() OVER (PARTITION BY doc_id, para ORDER BY i) AS rn
      FROM para
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
           md5(string_agg(CASE WHEN rn = 1 THEN para END, '. '
                          ORDER BY i)) AS text_digest
    FROM ranked GROUP BY doc_id
    """,
)
def paragraph_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document paragraph dedup — the row-local complement to
    the global line_dedup_corpus: repeated paragraphs inside ONE
    document keep their first occurrence in place; later copies drop;
    other documents' identical paragraphs are untouched. Paragraphs
    are derived as 2-token groups of the word-soup text (same reformat
    trick as line_dedup's oracle — the small vocabulary makes
    within-doc repeats common, so the gate exercises real drops). The
    digest pins the reassembled text byte-exactly.

    Row-local (r5): first-occurrence-in-order dedup within one row's
    array IS ``array_distinct`` (Spark preserves first occurrences in
    encounter order — certified against the oracle's window
    formulation by the hash gate), so the whole operator is a narrow
    map over the corpus; the plan's only exchange is the catalog's
    widen repartition that spreads the scan. The previous formulation
    exploded paragraphs and ran a (doc, para) row_number window — two
    shuffles of paragraph STRINGS this plan simply doesn't have.
    Measured at sf0.1/local[32]: windowed form 1.6 s; first row-local
    form 2.2 s (the size(_ps)>0 filter was substituted below the widen
    Exchange, serializing the heavy build on one core — see the
    comment below); raw-text filter form ~0.65 s warm."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    tk = _tokens("text")
    n_para = F.greatest(F.ceil(F.size(tk) / 2.0).cast("int") - 1, F.lit(0))
    paras = F.filter(
        F.transform(
            F.sequence(F.lit(0), n_para),
            lambda i: F.concat_ws(" ", F.slice(tk, i * 2 + 1, 2)),
        ),
        lambda p: F.length(F.trim(p)) >= 1,
    )
    # A doc has >=1 non-empty paragraph IFF its trimmed text is
    # non-empty (every token produces a non-empty 2-token group).
    # Stating the row filter on the RAW text matters for the plan:
    # `filter(size(_ps) > 0)` gets pushed below the widen Exchange
    # with the whole tokenize+build expression substituted in, so the
    # heavy compute would run twice — once single-threaded on the
    # pre-shuffle scan partition (the r5 regression: 2.2 s vs 1.6 s),
    # once post-shuffle. The cheap predicate pushes down for free.
    return (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", paras.alias("_ps"))
        .select(
            "doc_id",
            F.size(F.array_distinct("_ps")).cast("long").alias("n_kept"),
            (F.size("_ps") - F.size(F.array_distinct("_ps")))
            .cast("long")
            .alias("n_dropped"),
            F.md5(F.array_join(F.array_distinct("_ps"), ". ")).alias(
                "text_digest"
            ),
        )
    )


@query(
    "pagerank_trade_nations",
    """
    WITH edges AS (
      SELECT ns.n_name AS src, nc.n_name AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    norm AS (
      SELECT e.src, e.dst, e.w / o.ow AS p
      FROM edges e JOIN outw o USING (src)
    ),
    nodes AS (SELECT n_name AS node FROM nation),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn),
    r1 AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * coalesce(sum(r0.r * norm.p), 0) AS r
      FROM nodes
      LEFT JOIN norm ON norm.dst = nodes.node
      LEFT JOIN r0 ON r0.node = norm.src, nn
      GROUP BY nodes.node, nn.n
    ),
    r2 AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * coalesce(sum(r1.r * norm.p), 0) AS r
      FROM nodes
      LEFT JOIN norm ON norm.dst = nodes.node
      LEFT JOIN r1 ON r1.node = norm.src, nn
      GROUP BY nodes.node, nn.n
    ),
    r3 AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * coalesce(sum(r2.r * norm.p), 0) AS r
      FROM nodes
      LEFT JOIN norm ON norm.dst = nodes.node
      LEFT JOIN r2 ON r2.node = norm.src, nn
      GROUP BY nodes.node, nn.n
    )
    SELECT node, round(r, 6) AS rank
    FROM r3
    """,
)
def pagerank_trade_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation→nation trade graph (supplier
    nation → customer nation, edge weight = lineitem count), 3 power
    iterations at damping 0.85 — the iterative numeric-graph idiom
    (dedup_cluster_components is the label-propagation sibling; this
    adds weighted numeric iteration). Per round: rank table (node
    grain) joins the NORMALIZED edge table and re-aggregates — at
    scale the edge table is the big side, partitioned by src, and the
    rank table is the broadcast side; lineage is truncated by eager
    checkpoint every few rounds (convention per dedup.py). The oracle
    UNROLLS the same three iterations as CTEs; per-node in-degree is
    small here so cross-engine double summation stays far inside the
    6dp rounding."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ns = F.broadcast(n.select(F.col("n_nationkey").alias("_sk"),
                              F.col("n_name").alias("src")))
    nc = F.broadcast(n.select(F.col("n_nationkey").alias("_ck"),
                              F.col("n_name").alias("dst")))
    edges = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(ns, F.col("s_nationkey") == F.col("_sk"))
        .join(nc, F.col("c_nationkey") == F.col("_ck"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    outw = edges.groupBy(F.col("src").alias("_os")).agg(
        F.sum("w").alias("ow")
    )
    norm = (
        edges.join(outw, F.col("src") == F.col("_os"))
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .localCheckpoint(eager=True)  # iterate over a pinned edge table
    )
    nodes = n.select(F.col("n_name").alias("node"))
    n_nodes = nodes.count()
    ranks = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    for _ in range(3):
        contrib = (
            norm.join(
                ranks.select(F.col("node").alias("_src"), "r"),
                F.col("src") == F.col("_src"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("_in"))
        )
        ranks = (
            nodes.join(contrib, on="node", how="left")
            .select(
                "node",
                (0.15 / n_nodes
                 + 0.85 * F.coalesce(F.col("_in"), F.lit(0.0))).alias("r"),
            )
        )
    return ranks.select("node", F.round("r", 6).alias("rank"))


@query(
    "approx_percentile_values",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_exact,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END)
             AS p90_exact,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END)
             AS p99_exact,
           true AS ok_p50, true AS ok_p90, true AS ok_p99
    FROM ranked GROUP BY event_type, n
    """,
)
def approx_percentile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile family's scale variant — approx_percentile
    (Greenwald-Khanna sketch: mergeable, bounded memory, single pass)
    — as an AUDIT-STYLE oracle row (r10, retiring the rows-only
    class). The sketch's answers are engine-specific, so the scored
    columns are (a) the EXACT discrete percentiles (value at integer
    rank ``ceil(p·n)`` — computed as ``(p_num·n + p_num) div p_den``,
    pure integer arithmetic both engines replay bit-for-bit; the
    values are raw data doubles, identical in both engines) and (b)
    the GK rank-error verdicts: the approx answer's true rank
    interval [#(value < v)+1, #(value ≤ v)] must come within
    ``n div 500 + 1`` ranks (2× the accuracy=1000 guarantee, the same
    slack the pytest gate uses) of the target rank. The oracle
    asserts the contract booleans; a broken sketch goes red.

    Plan note: the exact side sorts per group (window row_number) —
    this is the AUDIT rung; at 100 TB one runs the sketch alone and
    audits on a sample. The approx side stays one aggregate pass."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    appr = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 1000).alias("_ap")
    )
    w_rn = Window.partitionBy("event_type").orderBy("value")
    w_n = Window.partitionBy("event_type")
    ranked = ev.select("event_type", "value").withColumn(
        "rn", F.row_number().over(w_rn)
    ).withColumn("n", F.count(F.lit(1)).over(w_n))
    r50 = F.expr("(n + 1) div 2")
    r90 = F.expr("(9 * n + 9) div 10")
    r99 = F.expr("(99 * n + 99) div 100")
    exact = ranked.groupBy("event_type", "n").agg(
        F.max(F.when(F.col("rn") == r50, F.col("value"))).alias("p50_exact"),
        F.max(F.when(F.col("rn") == r90, F.col("value"))).alias("p90_exact"),
        F.max(F.when(F.col("rn") == r99, F.col("value"))).alias("p99_exact"),
    )
    # true rank interval of each approx answer, one conditional-agg pass
    j = ev.join(F.broadcast(appr), "event_type")
    ranks = j.groupBy("event_type").agg(
        *[
            agg.alias(f"{nm}{i}")
            for i in range(3)
            for nm, agg in (
                ("lt", F.sum((F.col("value") < F.col("_ap")[i]).cast("long"))),
                ("le", F.sum((F.col("value") <= F.col("_ap")[i]).cast("long"))),
            )
        ]
    )
    out = exact.join(ranks, "event_type")
    err = F.expr("n div 500") + F.lit(1)

    def ok(i: int, target) -> Column:
        return (F.col(f"lt{i}") + 1 <= target + err) & (
            F.col(f"le{i}") >= target - err
        )

    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "p50_exact",
        "p90_exact",
        "p99_exact",
        ok(0, r50).alias("ok_p50"),
        ok(1, r90).alias("ok_p90"),
        ok(2, r99).alias("ok_p99"),
    )


@query(
    "triangle_count_trade",
    """
    WITH pair AS (
      SELECT least(ns.n_name, nc.n_name) AS a,
             greatest(ns.n_name, nc.n_name) AS b,
             count(*) AS w
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      WHERE ns.n_name <> nc.n_name
      GROUP BY 1, 2
    ),
    cut AS (SELECT 1.3 * avg(w) AS c FROM pair),
    raw AS (SELECT a, b FROM pair, cut WHERE pair.w >= cut.c),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM raw e1
      JOIN raw e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN raw e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    pernode AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT x AS node FROM tri UNION ALL
            SELECT y FROM tri UNION ALL SELECT z FROM tri)
      GROUP BY node
    )
    SELECT n.n_name AS node, coalesce(p.n_triangles, 0) AS n_triangles
    FROM nation n LEFT JOIN pernode p ON p.node = n.n_name
    """,
)
def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting on the undirected nation trade graph
    (edges = pairs trading above 1.3x the mean pair volume, so the
    graph has real structure rather than the complete clique)
    — the standard ordered-wedge formulation: canonical a<b edges,
    wedges (a,b)×(a,c b<c) closed by the (b,c) edge, so every triangle
    counts exactly once. At scale the edge table self-joins twice on
    its endpoints — the classic orientation trick (order by degree)
    bounds wedge fan-out on skewed graphs; here nodes are nations so
    edges broadcast. The graph-analytics sibling of
    dedup_cluster_components (connectivity) and
    pagerank_trade_nations (weighted rank)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ns = F.broadcast(n.select(F.col("n_nationkey").alias("_sk"),
                              F.col("n_name").alias("sn")))
    nc = F.broadcast(n.select(F.col("n_nationkey").alias("_ck"),
                              F.col("n_name").alias("cn")))
    pair = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(ns, F.col("s_nationkey") == F.col("_sk"))
        .join(nc, F.col("c_nationkey") == F.col("_ck"))
        .filter(F.col("sn") != F.col("cn"))
        .groupBy(
            F.least("sn", "cn").alias("a"),
            F.greatest("sn", "cn").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    cut = pair.agg((1.3 * F.avg("w")).alias("c"))
    raw = (
        pair.join(F.broadcast(cut))
        .filter(F.col("w") >= F.col("c"))
        .select("a", "b")
    )
    e1 = raw
    e2 = raw.select(F.col("a").alias("_a2"), F.col("b").alias("c"))
    e3 = raw.select(F.col("a").alias("_b3"), F.col("b").alias("_c3"))
    tri = (
        e1.join(F.broadcast(e2),
                (F.col("_a2") == F.col("a")) & (F.col("c") > F.col("b")))
        .join(
            F.broadcast(e3),
            (F.col("_b3") == F.col("b")) & (F.col("_c3") == F.col("c")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        n.select(F.col("n_name").alias("node"))
        .join(pernode, on="node", how="left")
        .withColumn(
            "n_triangles", F.coalesce("n_triangles", F.lit(0)).cast("long")
        )
    )


@query(
    "funnel_view_click_purchase",
    """
    WITH t1 AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view
      FROM events GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id,
             min(e.ts) FILTER (WHERE e.event_type = 'click'
                               AND e.ts > t1.t_view) AS t_click,
             any_value(t1.t_view) AS t_view
      FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id,
             min(e.ts) FILTER (WHERE e.event_type = 'purchase'
                               AND e.ts > t2.t_click) AS t_purchase,
             any_value(t2.t_view) AS t_view,
             any_value(t2.t_click) AS t_click
      FROM events e JOIN t2 USING (user_id) GROUP BY e.user_id
    ),
    staged AS (
      SELECT user_id,
             CASE WHEN t_purchase IS NOT NULL THEN 3
                  WHEN t_click IS NOT NULL THEN 2
                  WHEN t_view IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM t3
    ),
    counts AS (
      SELECT s.stage,
             CAST(count(*) FILTER (WHERE staged.stage >= s.stage)
                  AS BIGINT) AS n_users
      FROM staged, (SELECT unnest([1, 2, 3]) AS stage) s
      GROUP BY s.stage
    )
    SELECT CASE stage WHEN 1 THEN 'view' WHEN 2 THEN 'view>click'
                      ELSE 'view>click>purchase' END AS stage,
           n_users,
           round(n_users * 1.0 / (SELECT count(*) FROM staged), 4)
             AS user_share
    FROM counts
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel: how many users did view → click →
    purchase IN TIMESTAMP ORDER (a later click doesn't count without
    an earlier view; the greedy earliest-match walk, standard funnel
    semantics). Three sequential min-after-min passes — each stage's
    threshold feeds the next stage's conditional min. Here each pass
    is a conditional agg re-joined at user grain (ids + one timestamp
    shuffle each); the oracle mirrors the same three passes with
    FILTER clauses. Cumulative stage counts + share of all users."""
    ev = _t(spark, sf_dir, "events")
    # single-pass form: ONE shuffle of the stage-relevant events per
    # user, then a row-local sorted fold (stage, threshold-ts) — the
    # greedy earliest-match walk. Equivalent to the oracle's three
    # min-after-min passes (greedy optimality; strict > on the
    # threshold keeps tie semantics identical), at a third of the
    # shuffles — the funnel shape that survives 100× event volume.
    stage_of = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
    )
    walked = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), stage_of.alias("st")))
            ).alias("_evs")
        )
        .select(
            "user_id",
            F.aggregate(
                "_evs",
                F.struct(
                    F.lit(0).alias("stage"),
                    F.lit(None).cast("timestamp").alias("t"),
                ),
                lambda acc, e: F.when(
                    (e["st"] == acc["stage"] + 1)
                    & (acc["t"].isNull() | (e["ts"] > acc["t"])),
                    F.struct(
                        (acc["stage"] + 1).alias("stage"),
                        e["ts"].alias("t"),
                    ),
                ).otherwise(acc),
            )["stage"].alias("stage"),
        )
    )
    # users with NO stage-relevant events still count in the base
    all_users = ev.select("user_id").distinct()
    staged = (
        all_users.join(walked, on="user_id", how="left")
        .select("user_id", F.coalesce("stage", F.lit(0)).alias("stage"))
    )
    # ONE global conditional aggregate over staged — the cumulative
    # stage counts AND the denominator come out of the same partial-agg
    # pass (map-side combine → 1 row), then a row-local explode shapes
    # the 3 labelled rows. No eager count() at build time (the old form
    # executed the whole event shuffle TWICE — once for a driver-side
    # total, once in-plan), no crossJoin fan-out, and a stage with zero
    # qualifying users still emits its n_users=0 row exactly like the
    # oracle's FILTER counts. Empty events → 0 rows (total guard),
    # matching the oracle's empty `staged` CTE.
    labels = [(1, "view"), (2, "view>click"), (3, "view>click>purchase")]
    agg = staged.agg(
        F.count(F.lit(1)).alias("_total"),
        *[
            F.sum((F.col("stage") >= s).cast("long")).alias(f"_n{s}")
            for s, _ in labels
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("stage"),
                F.col(f"_n{s}").alias("n_users"),
                F.round(F.col(f"_n{s}") / F.col("_total"), 4).alias(
                    "user_share"
                ),
            )
            for s, lbl in labels
        ]
    )
    return (
        agg.filter(F.col("_total") > 0)
        .select(F.explode(rows).alias("_r"))
        .select("_r.*")
    )


@query(
    "weekly_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week,
                        CAST(date_trunc('week', e.ts) AS DATE)) / 7.0)
                  AS INT) AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    ),
    cohort_sizes AS (
      SELECT cohort_week, count(*) AS cohort_n FROM first_seen
      GROUP BY cohort_week
    )
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           round(count(*) * 1.0 / any_value(c.cohort_n), 4) AS retention
    FROM activity a JOIN cohort_sizes c USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    first event; for every later week-offset, how many of the cohort
    were active and the retention ratio. Two user-grain aggregates
    plus a user-grain distinct — all shuffles at user/cohort grain,
    never event grain twice (first_seen re-joins the fact ONCE).
    Week arithmetic is pure integer day math on date_trunc'd dates,
    cross-engine exact."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7.0
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    return (
        activity.join(F.broadcast(sizes), on="cohort_week")
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.round(
                F.count(F.lit(1)) / F.first("cohort_n"), 4
            ).alias("retention"),
        )
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "retention",
        )
    )


@query(
    "basket_part_pairs_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 50 AS item
      FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    supp AS (
      SELECT item, count(*) AS s FROM items GROUP BY item
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS both_s
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, CAST(p.both_s AS BIGINT) AS pair_support,
           round(p.both_s * 1.0 / sa.s, 4) AS confidence,
           round(p.both_s * 1.0 * n.n / (sa.s * sb.s), 4) AS lift
    FROM pairs p
    JOIN supp sa ON sa.item = p.item_a
    JOIN supp sb ON sb.item = p.item_b, n_orders n
    WHERE p.both_s >= 20
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (orders as baskets, part
    families as items): pair support via a per-basket ordered
    self-join on deduped items, confidence = P(b|a), lift =
    P(a,b)/(P(a)P(b)) with a minimum-support cut. The self-join keys
    on the basket id (co-located at scale if the fact is bucketed by
    order); item supports and the basket count are tiny broadcast
    sides; min-support prunes the pair table before the dim joins.
    Ratios come from exact integer counts — 4dp cross-engine exact."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("item")
    ).distinct()
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    b = items.select(
        F.col("l_orderkey").alias("_ok"), F.col("item").alias("item_b")
    )
    pairs = (
        items.join(
            b,
            (F.col("l_orderkey") == F.col("_ok"))
            & (F.col("item") < F.col("item_b")),
        )
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).alias("both_s"))
        .filter(F.col("both_s") >= 20)
    )
    sa = supp.select(F.col("item").alias("_ia"), F.col("s").alias("sa"))
    sb = supp.select(F.col("item").alias("_ib"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), F.col("item_a") == F.col("_ia"))
        .join(F.broadcast(sb), F.col("item_b") == F.col("_ib"))
        .join(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            F.col("both_s").cast("long").alias("pair_support"),
            F.round(F.col("both_s") / F.col("sa"), 4).alias("confidence"),
            F.round(
                F.col("both_s") * F.col("n") / (F.col("sa") * F.col("sb")), 4
            ).alias("lift"),
        )
    )


@query(
    "daily_anomaly_zscores",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n,
           round((d.n - s.mu) / s.sigma, 4) AS z
    FROM daily d JOIN stats s USING (event_type)
    WHERE abs((d.n - s.mu) / s.sigma) >= 1.5
    """,
)
def daily_anomaly_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: per (event type, day) counts scored
    against the type's mean/stddev; days beyond |z| ≥ 1.5 surface.
    The daily rollup is the only event-grain shuffle; stats are
    type-grain (25 rows) and broadcast back. stddev_samp over the
    SMALL daily table is the one order-sensitive float reduction —
    30 values per type keeps cross-engine drift far inside the 4dp
    rounding (and the 1.5 cut is on well-separated z values)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy(F.col("event_type").alias("_et")).agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), F.col("event_type") == F.col("_et"))
        .filter(F.abs(z) >= 1.5)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n"),
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "entity_match_part_names",
    """
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS block
      FROM part
    ),
    pairs AS (
      SELECT a.block, levenshtein(a.p_name, b.p_name) AS lev
      FROM p a JOIN p b
        ON a.block = b.block AND a.p_partkey < b.p_partkey
    )
    , parts AS (
      SELECT block, count(DISTINCT p_partkey) AS n_parts
      FROM p GROUP BY block
    ),
    stats AS (
      SELECT block,
             sum(CASE WHEN lev = 0 THEN 1 END) AS n_exact,
             sum(CASE WHEN lev BETWEEN 1 AND 2 THEN 1 END) AS n_near
      FROM pairs GROUP BY block
    )
    SELECT parts.block, CAST(parts.n_parts AS BIGINT) AS n_parts,
           CAST(coalesce(stats.n_exact, 0) AS BIGINT) AS n_exact_pairs,
           CAST(coalesce(stats.n_near, 0) AS BIGINT) AS n_near_pairs
    FROM parts LEFT JOIN stats USING (block)
    """,
)
def entity_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: part names block on their noun
    (the ER blocking-key discipline — candidate pairs only WITHIN a
    block, never all-pairs) and candidates verify by exact Levenshtein
    edit distance (JVM-side `levenshtein`, integer — cross-engine
    exact, no float similarity). Per block: member count, exact-name
    duplicate pairs, near-name (edit distance 1-2) pairs.

    SCALE DESIGN — verify on the CANONICAL (distinct-value) grain:
    pair counts over rows are quadratic in block size (the r5 sf1
    sweep measured the row-grain broadcast form at 66x on a 10x step:
    blocks grew 10x, pairs 100x). But the verdict only depends on the
    NAME pair, so aggregate to (block, name, multiplicity) first and
    weight:

      n_exact_pairs = Σ_names C(cnt, 2)
      n_near_pairs  = Σ_{nameA < nameB, lev∈[1,2]} cntA · cntB

    One row-grain aggregation pass (linear, combiner-friendly), then
    the Levenshtein join runs on distinct names only — cost scales
    with vocabulary², independent of corpus size (the ER
    dedup-before-verify discipline). Block skew disappears with the
    same stroke: the name-grain table is tiny and broadcasts. When
    the vocabulary itself is huge at 100 TB, the name-grain join
    falls back to the salted row-spread documented in git history
    (probe tagged pk%R, build replicated xR) — but canonicalization
    first is always the bigger lever."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("block"),
    )
    nm = p.groupBy("block", "p_name").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = nm.groupBy("block").agg(
        F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2)
        .cast("long")
        .alias("n_exact_pairs"),
        F.sum("cnt").alias("n_parts"),
    )
    b = nm.select(
        F.col("block").alias("_blk"),
        F.col("p_name").alias("_pn"),
        F.col("cnt").alias("_cnt"),
    )
    near = (
        nm.join(
            F.broadcast(b),
            (F.col("block") == F.col("_blk"))
            & (F.col("p_name") < F.col("_pn")),
        )
        .filter(F.levenshtein(F.col("p_name"), F.col("_pn")).between(1, 2))
        .groupBy(F.col("block").alias("_b"))
        .agg(F.sum(F.col("cnt") * F.col("_cnt")).alias("n_near_pairs"))
    )
    return exact.join(near, F.col("block") == F.col("_b"), "left").select(
        "block",
        "n_parts",
        "n_exact_pairs",
        F.coalesce("n_near_pairs", F.lit(0)).cast("long").alias(
            "n_near_pairs"
        ),
    )


@query(
    "weighted_sample_docs",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(len({_TOKS_SQL}) AS DOUBLE) AS wt,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|ws'),
                1, 15))::BIGINT + 1) / 1152921504606846976.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, wt, ln(u) / wt AS k
      FROM w WHERE wt > 0
    ),
    ranked AS (
      SELECT doc_id, source, wt,
             row_number() OVER (PARTITION BY source
                                ORDER BY k DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, source, CAST(wt AS BIGINT) AS n_tokens,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis-Spirakis A-Res): each
    doc draws a deterministic uniform from a salted content hash and
    competes on key ln(u)/weight (weight = token count — longer docs
    proportionally likelier); the top-10 keys per source are the
    sample. Single pass, mergeable (the top-k of a union is the top-k
    of per-partition top-ks — the same property the distributed
    reservoir relies on at 100 TB), reproducible under re-sharding
    like hash_split_assign. The ln is the one libm call — keys are
    hash-spread so a 1-ulp cross-engine difference cannot reorder the
    rank window (tie-break on doc_id regardless)."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit("|ws"))),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint")
            + 1
        )
        / F.lit(1152921504606846976.0)
    )
    wt = F.size(_tokens("text")).cast("double")
    keyed = d.select(
        "doc_id",
        "source",
        wt.alias("wt"),
        (F.log(u) / wt).alias("k"),
    ).filter(F.col("wt") > 0)
    w = Window.partitionBy("source").orderBy(
        F.col("k").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "doc_id",
            "source",
            F.col("wt").cast("long").alias("n_tokens"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@query(
    "time_to_convert_stats",
    """
    WITH t1 AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view
      FROM events GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id,
             min(e.ts) FILTER (WHERE e.event_type = 'purchase'
                               AND e.ts > t1.t_view) AS t_buy,
             any_value(t1.t_view) AS t_view
      FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id
    ),
    delays AS (
      SELECT date_diff('second', t_view, t_buy) / 60.0 AS mins
      FROM t2 WHERE t_buy IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(avg(mins), 4) AS avg_minutes,
           round(quantile_cont(mins, 0.50), 4) AS p50_minutes,
           round(quantile_cont(mins, 0.90), 4) AS p90_minutes
    FROM delays
    """,
)
def time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution closing the funnel family:
    first view → first purchase AFTER that view per user; count, mean
    and exact interpolated p50/p90 of the delay in minutes. Same
    min-after-min passes as the funnel; the delay math is integer
    seconds scaled once, and F.percentile == quantile_cont keeps the
    order statistics cross-engine exact (value_percentiles'
    discipline)."""
    ev = _t(spark, sf_dir, "events")
    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        )
    )
    t2 = (
        ev.join(t1, on="user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_buy"),
            F.first("t_view").alias("t_view"),
        )
    )
    delays = t2.filter(F.col("t_buy").isNotNull()).select(
        (
            (
                F.unix_timestamp("t_buy") - F.unix_timestamp("t_view")
            ) / 60.0
        ).alias("mins")
    )
    return delays.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.avg("mins"), 4).alias("avg_minutes"),
        F.round(F.percentile("mins", F.lit(0.50)), 4).alias("p50_minutes"),
        F.round(F.percentile("mins", F.lit(0.90)), 4).alias("p90_minutes"),
    )


@query(
    "shuffle_skew_probe",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT CAST(floor(ln(n) / ln(2)) AS INT) AS size_bucket,
             count(*) AS n_keys, sum(n) AS n_rows
      FROM per_key GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM per_key)
    SELECT h.size_bucket,
           CAST(h.n_keys AS BIGINT) AS n_keys,
           CAST(h.n_rows AS BIGINT) AS n_rows,
           round(h.n_rows * 1.0 / t.total, 4) AS row_share
    FROM hist h, tot t
    """,
)
def shuffle_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational skew diagnostics — the 'why is one task still
    running' probe a pipeline owner fires BEFORE picking a join
    strategy: per-key row counts folded into log2 size buckets with
    each bucket's share of all rows. A healthy key space concentrates
    in adjacent buckets; a heavy tail (big buckets holding large
    row_share from few keys) says salt / AQE-skew-join / broadcast the
    other side. One key-grain aggregate + a vocabulary-sized
    histogram — the probe costs one shuffle of (key, count)."""
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hist = per_key.groupBy(
        F.floor(F.log(F.col("n")) / F.log(F.lit(2.0)))
        .cast("int")
        .alias("size_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
    )
    tot = per_key.agg(F.sum("n").alias("total"))
    return (
        hist.join(F.broadcast(tot))
        .select(
            "size_bucket",
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("total"), 4).alias("row_share"),
        )
    )


@query(
    "split_balance_chisq",
    """
    WITH b AS (
      SELECT source,
             CASE WHEN (('0x' || substring(md5(text), 1, 15))::BIGINT
                        % 2147483648 % 100) < 80 THEN 'train'
                  WHEN (('0x' || substring(md5(text), 1, 15))::BIGINT
                        % 2147483648 % 100) < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    obs AS (SELECT source, split, count(*) AS o FROM b GROUP BY 1, 2),
    src_tot AS (SELECT source, sum(o) AS st FROM obs GROUP BY source),
    spl_tot AS (SELECT split, sum(o) AS pt FROM obs GROUP BY split),
    grand AS (SELECT sum(o) AS g FROM obs),
    cells AS (
      SELECT obs.source, obs.split, obs.o,
             st.st * pt.pt * 1.0 / grand.g AS e
      FROM obs JOIN src_tot st USING (source)
      JOIN spl_tot pt USING (split), grand
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(o) AS BIGINT) AS n_docs,
           round(sum((o - e) * (o - e) / e), 4) AS chisq_contrib
    FROM cells GROUP BY split
    """,
)
def split_balance_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance validation: Pearson χ² contributions of the
    content-hash train/val/test assignment against source-independent
    expected counts — the QA gate that catches a splitter whose key
    correlates with a stratum (a leak-shaped bug no row count reveals;
    contributions far above the (sources−1)(splits−1) d.o.f. scale
    flag it). All counts integer; expectations are exact products over
    one grand total; per-split sums round(4). Everything after the
    per-(source, split) count is dimension-table-sized."""
    from cmsspark_spark.functions.text import hash_split

    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "source",
        hash_split("text", {"train": 80, "val": 90, "test": 100}).alias(
            "split"
        ),
    )
    obs = b.groupBy("source", "split").agg(F.count(F.lit(1)).alias("o"))
    src_tot = obs.groupBy(F.col("source").alias("_s")).agg(
        F.sum("o").alias("st")
    )
    spl_tot = obs.groupBy(F.col("split").alias("_p")).agg(
        F.sum("o").alias("pt")
    )
    grand = obs.agg(F.sum("o").alias("g"))
    cells = (
        obs.join(F.broadcast(src_tot), F.col("source") == F.col("_s"))
        .join(F.broadcast(spl_tot), F.col("split") == F.col("_p"))
        .join(F.broadcast(grand))
        .withColumn("e", F.col("st") * F.col("pt") / F.col("g"))
    )
    return cells.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("o").cast("long").alias("n_docs"),
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            4,
        ).alias("chisq_contrib"),
    )


# Truth-sample targets shared between the quality-report FUNCTIONS
# (Python-side defaults) and their composed ORACLE strings (built once
# at import): one definition site, so the two sides can never audit
# different sampled populations (ADVICE r6 — the r6 form hard-coded
# 2000/500 in the SQL while the Python side accepted any truth_target).
# The registered oracle still audits only the DEFAULT population:
# callers passing a non-default target get a valid report but must not
# hash-compare it against the registered oracle.
_LSH_TRUTH_TARGET = 2000
_EMBED_TRUTH_TARGET = 500


def _dedup_quality_oracle() -> str:
    """Compose the LSH-candidates and exact-Jaccard oracles into a
    confusion-matrix query — built FROM the registered oracle strings
    so the three can never drift apart. The sampled population is
    injected by retargeting each sub-oracle's single ``FROM
    documents`` at a sampled CTE (asserted single — a second reference
    appearing in a future edit fails loudly here rather than silently
    auditing mixed populations)."""
    sampled = {}
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        src = ORACLES[name]
        assert src.count("FROM documents") == 1, name
        sampled[name] = src.replace("FROM documents", "FROM documents_s")
    return f"""
    WITH nmod AS (
      SELECT greatest(CAST(ceil(count(*) / {_LSH_TRUTH_TARGET}.0)
                        AS BIGINT), 1) AS m
      FROM documents
    ),
    documents_s AS (
      SELECT d.* FROM documents d, nmod WHERE d.doc_id % nmod.m = 0
    ),
    cand AS ({sampled["dedup_minhash_lsh"]}),
    truth AS (SELECT id_a, id_b FROM ({sampled["dedup_ngram_jaccard"]})),
    j AS (
      SELECT c.id_a IS NOT NULL AS is_cand, t.id_a IS NOT NULL AS is_true
      FROM cand c FULL JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT
      CAST(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0 END) AS BIGINT)
        AS tp,
      CAST(sum(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END)
        AS BIGINT) AS fp,
      CAST(sum(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END)
        AS BIGINT) AS fn,
      round(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0 END) * 1.0
            / greatest(sum(CASE WHEN is_cand THEN 1 ELSE 0 END), 1), 4)
        AS lsh_precision,
      round(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0 END) * 1.0
            / greatest(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 1), 4)
        AS lsh_recall,
      (SELECT m FROM nmod) AS sample_mod,
      (SELECT count(*) FROM documents_s) AS n_docs_sampled
    FROM j
    """


@query("dedup_lsh_quality_report", None)
def dedup_lsh_quality_report(
    spark: SparkSession,
    sf_dir: str,
    truth_sample_mod: int | None = None,
    truth_target: int = _LSH_TRUTH_TARGET,
) -> DataFrame:
    """The approximation audited INSIDE the engine: MinHash-LSH
    candidate pairs scored against the exact Jaccard≥0.5 truth set —
    TP/FP/FN, precision, recall as one row. This is the report a
    pipeline owner uses to TUNE (bands, rows-per-band, threshold)
    before trusting the approximate path at scale; both sides reuse
    the production operators, and the oracle is COMPOSED from the two
    registered oracle strings so the three queries can never drift.
    The pytest recall gates check a floor; this reports the actual
    numbers.

    SAMPLING SEMANTICS (the 100 TB guard): the exact-Jaccard truth
    side is all-pairs — O(n²) on the full corpus. Both sides are
    therefore computed on the deterministic subpopulation
    ``doc_id % mod == 0`` where ``mod = ceil(n_docs / truth_target)``
    is derived from an ABSOLUTE target sample size (one cheap
    ``count()``), so the quadratic truth side is bounded at
    ~``truth_target²`` pairs no matter how large the corpus grows —
    a fixed-mod default would silently go quadratic on a 100 TB
    corpus (ADVICE r5). Ids are content-independent, so pair-level
    precision/recall on the sample are unbiased estimates of the
    corpus rates; the realized ``sample_mod`` / ``n_docs_sampled``
    are reported in the output. Pass ``truth_sample_mod`` explicitly
    to pin the mod (1 = exhaustive audit); the oracle computes the
    identical ``ceil(count/_LSH_TRUTH_TARGET)`` inside SQL — built
    from the SAME module constant as this signature's default — so the
    two sides can never disagree on the population. Non-default
    ``truth_target``/``truth_sample_mod`` values produce a valid
    report over a DIFFERENT population than the registered oracle
    audits: don't hash-compare those against it (ADVICE r6)."""
    d0 = _t(spark, sf_dir, "documents")
    if truth_sample_mod is not None:
        mod = int(truth_sample_mod)
    else:
        # size the mod from an UNWIDENED scan: count(*) on the bare
        # parquet collapses to a metadata-only job, while counting the
        # catalog frame would pay its widen repartition first
        n_docs = _t(spark, sf_dir, "documents", widen=False).count()
        mod = max(-(-n_docs // int(truth_target)), 1)
    d = d0.filter(F.col("doc_id") % mod == 0)
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    ).withColumn("is_cand", F.lit(True))
    truth = (
        D.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
        .select("id_a", "id_b")
        .withColumn("is_true", F.lit(True))
    )
    j = cand.join(truth, on=["id_a", "id_b"], how="full").select(
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
    )
    tp = F.sum((F.col("is_cand") & F.col("is_true")).cast("long"))
    n_cand = F.sum(F.col("is_cand").cast("long"))
    n_true = F.sum(F.col("is_true").cast("long"))
    n_sampled = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_sampled")
    )
    return (
        j.agg(
            tp.alias("tp"),
            F.sum((F.col("is_cand") & ~F.col("is_true")).cast("long")).alias(
                "fp"
            ),
            F.sum((F.col("is_true") & ~F.col("is_cand")).cast("long")).alias(
                "fn"
            ),
            F.round(tp / F.greatest(n_cand, F.lit(1)), 4).alias(
                "lsh_precision"
            ),
            F.round(tp / F.greatest(n_true, F.lit(1)), 4).alias("lsh_recall"),
        )
        .withColumn("sample_mod", F.lit(mod).cast("long"))
        .crossJoin(F.broadcast(n_sampled))
    )


ORACLES["dedup_lsh_quality_report"] = _dedup_quality_oracle()


def _embed_lsh_quality_oracle() -> str:
    """Sign-LSH candidates vs exact cosine truth on the %4 subset —
    the embedding sibling of _dedup_quality_oracle, generated with the
    SAME seeded hyperplanes as the production operator."""
    import numpy as np

    rng = np.random.default_rng(42)
    all_planes = [rng.standard_normal((4, 64)) for _ in range(8)]
    bucket_cols = ",\n             ".join(
        f"{_bucket_sql(all_planes[t], 'e')} AS b{t}" for t in range(8)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM hashed"
        for t in range(8)
    )
    return f"""
    WITH nmod AS (
      SELECT greatest(CAST(ceil(count(*) / {_EMBED_TRUTH_TARGET}.0)
                        AS BIGINT), 1) AS m
      FROM embeddings
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e
               FROM embeddings, nmod WHERE vec_id % nmod.m = 0),
    hashed AS (
      SELECT vec_id, {bucket_cols}
      FROM corpus
    ),
    lb AS ({unpivot}),
    units AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
      FROM corpus
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM lb a JOIN lb b ON a.tbl = b.tbl AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
    ),
    cand_hit AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN units ua ON c.id_a = ua.vec_id
      JOIN units ub ON c.id_b = ub.vec_id
      WHERE list_dot_product(ua.u, ub.u) >= 0.3
    ),
    truth AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM units a JOIN units b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.u, b.u) >= 0.3
    ),
    j AS (
      SELECT c.id_a IS NOT NULL AS is_cand, t.id_a IS NOT NULL AS is_true
      FROM cand_hit c FULL JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT
      CAST(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0 END) AS BIGINT)
        AS tp,
      CAST(sum(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END)
        AS BIGINT) AS missed,
      round(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0 END) * 1.0
            / greatest(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 1), 4)
        AS lsh_recall,
      (SELECT m FROM nmod) AS sample_mod,
      (SELECT count(*) FROM corpus) AS n_vecs_sampled
    FROM j
    """


@query("embed_lsh_quality_report", None)
def embed_lsh_quality_report(
    spark: SparkSession, sf_dir: str, truth_target: int = _EMBED_TRUTH_TARGET
) -> DataFrame:
    """Sign-LSH bucket recall audited against brute-force cosine truth
    (threshold 0.3) on a subset bounded to an ABSOLUTE target size —
    the embedding sibling of dedup_lsh_quality_report
    (post-verification precision is 1.0 by construction: every
    candidate is exact-rescored, so only recall can be lost — exactly
    what this reports). The brute-force truth is O(n²): the audit
    population is ``vec_id % mod == 0`` with
    ``mod = ceil(n_vecs / truth_target)`` from one cheap count, so
    truth cost is ~``truth_target²`` pairs at any corpus size
    (ADVICE r5 — the old fixed ``% 4`` went quadratic with n). Both
    sides are the production operators; the oracle regenerates the
    same seeded hyperplanes AND the same
    ``ceil(count/_EMBED_TRUTH_TARGET)`` mod in SQL (one shared module
    constant — a non-default ``truth_target`` audits a different
    population than the registered oracle; don't hash-compare those,
    ADVICE r6), pinned impl='sql' for the hard bucket guarantee."""
    emb0 = _t(spark, sf_dir, "embeddings")
    # metadata-only count (unwidened scan) — see dedup_lsh_quality_report
    n_vecs = _t(spark, sf_dir, "embeddings", widen=False).count()
    mod = max(-(-n_vecs // int(truth_target)), 1)
    emb = emb0.filter(F.col("vec_id") % mod == 0)
    cand = (
        S.cosine_near_pairs_lsh(
            emb, dim=64, threshold=0.3, num_planes=4, tables=8, impl="sql"
        )
        .select("id_a", "id_b")
        .withColumn("is_cand", F.lit(True))
    )
    truth = (
        S.cosine_near_pairs(emb, threshold=0.3)
        .select("id_a", "id_b")
        .withColumn("is_true", F.lit(True))
    )
    j = cand.join(truth, on=["id_a", "id_b"], how="full").select(
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
    )
    tp = F.sum((F.col("is_cand") & F.col("is_true")).cast("long"))
    n_true = F.sum(F.col("is_true").cast("long"))
    n_sampled = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs_sampled")
    )
    return (
        j.agg(
            tp.alias("tp"),
            F.sum((F.col("is_true") & ~F.col("is_cand")).cast("long")).alias(
                "missed"
            ),
            F.round(tp / F.greatest(n_true, F.lit(1)), 4).alias("lsh_recall"),
        )
        .withColumn("sample_mod", F.lit(mod).cast("long"))
        .crossJoin(F.broadcast(n_sampled))
    )


ORACLES["embed_lsh_quality_report"] = _embed_lsh_quality_oracle()


# ---------------------------------------------------------------------------
# Round 6: contamination attribution + dedup provenance
# ---------------------------------------------------------------------------


@query(
    "contamination_attribution",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    grams AS (SELECT doc_id, {_SHINGLES_SQL} AS gs FROM tok),
    bg AS (
      SELECT DISTINCT doc_id AS bench_id, unnest(gs) AS g
      FROM grams WHERE doc_id % 20 = 0
    ),
    dg AS (
      SELECT doc_id, unnest(gs) AS g
      FROM grams WHERE doc_id % 20 <> 0
    ),
    pairs AS (
      SELECT d.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM dg d JOIN bg b USING (g) GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY n_shared DESC, bench_id) AS rn
      FROM pairs
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_docs_hit,
             max(n_shared) AS n_shared
      FROM pairs GROUP BY 1
    )
    SELECT a.doc_id, r.bench_id AS top_bench_id, a.n_shared,
           a.n_bench_docs_hit
    FROM agg a JOIN ranked r ON r.doc_id = a.doc_id AND r.rn = 1
    """,
)
def contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leak ATTRIBUTION (operators/pipeline.
    ngram_overlap_attribution): decontaminate_ngram_overlap says how
    contaminated each corpus doc is; this names the benchmark doc it
    leaks from (most shared distinct trigrams, ties → min bench id)
    plus how many benchmark docs it touched — the evidence for
    drop-the-doc vs retire-the-benchmark-item decisions. Same
    protected set convention (every 20th doc). Broadcast (bench_id,
    gram) pairs; shuffles carry (doc, bench) id pairs and counts,
    never text — the 100 TB shape of leak forensics."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    rest = d.filter(F.col("doc_id") % 20 != 0)
    return PL.ngram_overlap_attribution(rest, bench, n=3)


@query(
    "near_dup_survivor_map",
    f"""
    WITH comp AS ({_components_oracle_sql()}),
    tq AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents),
    m AS (
      SELECT c.component, c.doc_id, t.n_tokens
      FROM comp c JOIN tq t USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY component ORDER BY n_tokens DESC, doc_id) AS rn
      FROM m
    ),
    surv AS (SELECT component, doc_id AS survivor_id FROM ranked
             WHERE rn = 1),
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
              FROM m GROUP BY 1)
    SELECT m.doc_id, s.survivor_id, m.component, z.n_members
    FROM m
    JOIN surv s USING (component)
    JOIN sizes z ON z.component = m.component
    WHERE m.doc_id <> s.survivor_id
    """,
)
def near_dup_survivor_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup PROVENANCE: every dropped near-dup doc mapped to the
    survivor that replaced it (keep-longest election, ties → min id)
    with its cluster label and size — the attribution record a
    pipeline keeps so a removed document is explainable and
    reversible (dedup_quality_survivors reports the winners; this
    reports the losers and who beat them).

    Plan: the bucketed ids-only LSH→verify→components path; the
    election is one min(struct(-tokens, id)) aggregate (string-id
    safe, same form as near_dup_losers); the loser map is a join-back
    on the tiny cluster-membership table. Oracle composed from the
    components oracle so the three cluster queries can never drift."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    from cmsspark_spark.functions.text import tokens as _tokens

    tq = d.select(
        F.col("doc_id").alias("node"),
        F.size(_tokens("text")).cast("long").alias("_nt"),
    )
    m = comp.join(tq, on="node")
    elect = m.groupBy("component").agg(
        F.min(
            F.struct((-F.col("_nt")).alias("_k"), F.col("node").alias("_id"))
        )["_id"].alias("survivor_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        m.join(elect, on="component")
        .filter(F.col("node") != F.col("survivor_id"))
        .select(
            F.col("node").alias("doc_id"),
            "survivor_id",
            "component",
            "n_members",
        )
    )


@query(
    "inverted_index_postings",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    td AS (SELECT DISTINCT doc_id, unnest(tk) AS token FROM tok),
    ranked AS (
      SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY token) AS df
      FROM td
    )
    SELECT token, CAST(df AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM ranked WHERE rn <= 64
    GROUP BY token, df
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted index (operators/pipeline.
    inverted_index_postings): per token, true document frequency plus
    the sorted doc-id posting list capped at 64 (smallest ids —
    deterministic prefix; df > 64 tells the consumer it IS a prefix).
    The search/debug sidecar for leak forensics and dedup
    investigations. One token-hash shuffle computes rank + df in the
    same window pass and the posting fold reuses its partitioning —
    ids and tokens shuffle, text never does."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    return PL.inverted_index_postings(d, max_postings=64)


@query(
    "dedup_cluster_size_histogram",
    f"""
    WITH comp AS ({_components_oracle_sql()}),
    sizes AS (
      SELECT component, count(*) AS n_members
      FROM comp GROUP BY component
    )
    SELECT CAST(floor(log2(n_members)) AS BIGINT) AS size_log2_bin,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_docs,
           CAST(sum(n_members - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY 1
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (log2 bins): the dedup
    TUNING diagnostic — how much corpus mass sits in clusters of each
    size and how many docs a one-survivor policy would remove
    (``n_removable`` = Σ(size−1) per bin). A heavy tail here says the
    LSH threshold is too loose (or the corpus has template spam)
    BEFORE anyone runs the expensive election. Same bucketed ids-only
    machinery as dedup_cluster_components; the histogram is two tiny
    re-aggs over the membership table."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return sizes.groupBy(
        F.floor(F.log2("n_members")).cast("long").alias("size_log2_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_members").alias("n_docs"),
        F.sum(F.col("n_members") - 1).alias("n_removable"),
    )


@query(
    "chunk_dedup_rate",
    f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents
    ),
    base AS (
      SELECT doc_id, source, tk, len(tk) AS n,
             greatest(CAST(ceil((len(tk) - 16) / 48.0) AS INT), 1)
               AS n_chunks
      FROM tok WHERE len(tk) > 0
    ),
    chunks AS (
      -- per-row LATERAL series: length-unbounded, unlike the r6 form's
      -- generate_series(0, 127) cross which silently dropped chunks
      -- beyond 128/doc (docs > 16 + 128*48 = 6160 tokens; VERDICT r6)
      SELECT doc_id, source,
             md5(array_to_string(tk[u.i * 48 + 1 : u.i * 48 + 64], ' '))
               AS h
      FROM base, LATERAL (
        SELECT unnest(generate_series(0, n_chunks - 1)) AS i) u
    ),
    per_hash AS (
      SELECT source, h, count(*) AS c,
             count(DISTINCT doc_id) AS nd
      FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_unique,
           round(1 - count(*) * 1.0 / sum(c), 6) AS dup_rate,
           CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT)
             AS n_cross_doc
    FROM per_hash GROUP BY source
    """,
)
def chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level redundancy report — the RAG-indexing twin of the
    document dedup family: slide the retrieval chunking
    (chunk_overlap, 64/48) over the corpus, fingerprint each chunk,
    and report per source how much of the chunk stream is duplicated
    (``dup_rate``) and how many distinct chunk texts recur across
    DIFFERENT documents (``n_cross_doc`` — boilerplate the retriever
    will surface repeatedly unless chunk-deduped). Chunking is the
    zero-shuffle narrow map; ``carry_cols`` threads ``source``
    through the explode so no join-back is needed; the only shuffles
    carry (source, md5) cells, never chunk text beyond the md5."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    ch = PL.chunk_overlap(
        d, chunk_tokens=64, stride=48, carry_cols=("source",)
    )
    per_hash = ch.groupBy(
        "source", F.md5("chunk_text").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("doc_id").alias("nd"),
    )
    total = F.sum("c")
    uniq = F.count(F.lit(1))
    return per_hash.groupBy("source").agg(
        total.cast("long").alias("n_chunks"),
        uniq.cast("long").alias("n_unique"),
        F.round(F.lit(1) - uniq / total, 6).alias("dup_rate"),
        F.sum((F.col("nd") > 1).cast("long")).alias("n_cross_doc"),
    )


#: The SQL-reproducible ANN rungs audited by ann_ladder_recall_report.
#: ONE list consumed by BOTH the Spark report and its composed oracle
#: so an arm can never exist on one side only; extended in place (and
#: the oracle rebuilt) when a later-registered rung joins the ladder
#: (r7: pq_refine, registered at the end of this module).
_ANN_LADDER_METHODS = [
    ("lsh", "ann_lsh_topk"),
    ("ivf_static", "ann_ivf_static_topk"),
    ("pq_static", "ann_pq_static_topk"),
    ("ivfpq_static", "ann_ivfpq_static_topk"),
]


def _ann_ladder_oracle() -> str:
    """Composed from the registered method oracles plus the brute
    truth oracle, so the report can never drift from the queries it
    audits (same build discipline as _dedup_quality_oracle)."""
    methods = _ANN_LADDER_METHODS
    for _, qname in methods:
        assert ORACLES.get(qname), qname
    ctes = ",\n    ".join(
        f"m_{label} AS ({ORACLES[qname]})" for label, qname in methods
    )
    arms = "\n    UNION ALL\n".join(
        f"""
    SELECT '{label}' AS method,
           (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM m_{label} m
             JOIN truth t ON m.query_id = t.query_id
                         AND m.vec_id = t.vec_id) AS n_hit,
           round((SELECT count(*) FROM m_{label} m
                   JOIN truth t ON m.query_id = t.query_id
                               AND m.vec_id = t.vec_id) * 1.0
                 / (SELECT count(*) FROM truth), 4) AS recall_at_5"""
        for label, _ in methods
    )
    return f"""
    WITH truth AS ({ORACLES["ann_cosine_topk"]}),
    {ctes}
    {arms}
    """


@query("ann_ladder_recall_report", None)
def ann_ladder_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN approximation ladder audited in ONE report: recall@5 of
    every SQL-reproducible method (sign-LSH buckets, static IVF,
    static PQ ADC, PQ ADC + exact refine, static IVF-PQ) against the
    brute-force cosine truth
    on the shared 5-query set — the embedding sibling of
    dedup_lsh_quality_report, and the table an operator reads to pick
    a rung of the ladder before trusting it at scale. Each method's
    result comes FROM the registered query (parameters in lockstep by
    construction; the shared _ANN_LADDER_METHODS list feeds both this
    report and the composed oracle,
    so the report and the queries it audits can never drift).
    All sides are id-pair joins over top-5 lists — driver-light, 5
    output rows.

    Execution: the truth is localCheckpointed EAGERLY once (consumed
    by every arm), then the six arms run CONCURRENTLY — each in its
    own thread submitting independent Spark jobs (the standard
    concurrent-job pattern; local[32] and a real cluster both overlap
    them), so the report's wall clock is ~max(arm) instead of
    ~sum(arms). Each thread reduces its arm to ONE bounded scalar
    (the hit count); the 6-row report is then assembled as a Spark
    frame with the recall division done engine-side (same F.round
    semantics as before — values byte-identical to the serial form
    because every arm is deterministic)."""
    from concurrent.futures import ThreadPoolExecutor

    # the brute-force truth and every arm are top-k lists — bounded at
    # |queries|·k rows by construction — so the recall join is a
    # driver-side set intersection over collected id pairs (exact
    # integer counting, byte-identical to the old per-arm join+count
    # jobs, minus five Spark jobs of pure scheduling/analysis
    # overhead on memo-served arms). The truth arm is itself just one
    # more independent top-k build, so it joins the SAME concurrent
    # fan-out instead of serializing ahead of it — each thread
    # collects its arm's id pairs, and the recall intersection runs
    # after the truth future resolves (guide §2.6).
    def _pairs(qname: str) -> list:
        return QUERIES[qname](spark, sf_dir).select(
            "query_id", "vec_id"
        ).collect()

    # the trained arm's k-means runs INSIDE its thread: with a single
    # trained arm there is nothing to race, and training then overlaps
    # the other arms' scans instead of serializing ahead of the
    # fan-out (a memoized session skips it entirely); if two trained
    # arms ever both miss the memo they'd train the same deterministic
    # centroids redundantly — wasted work, never wrong answers
    methods = list(_ANN_LADDER_METHODS)
    with ThreadPoolExecutor(max_workers=len(methods) + 1) as pool:
        f_truth = pool.submit(_pairs, "ann_cosine_topk")
        f_arms = [pool.submit(_pairs, q) for _, q in methods]
        truth = {(r.query_id, r.vec_id) for r in f_truth.result()}
        hits = [
            sum(1 for r in f.result() if (r.query_id, r.vec_id) in truth)
            for f in f_arms
        ]
    n_truth = len(truth)
    rows = [
        (label, n_truth, h) for (label, _), h in zip(methods, hits)
    ]
    out = local_frame(
        spark,
        rows, "method string, n_truth long, n_hit long"
    )
    return out.select(
        "method",
        "n_truth",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_truth"), 4).alias("recall_at_5"),
    )


ORACLES["ann_ladder_recall_report"] = _ann_ladder_oracle()


@query(
    "doc_length_profile_by_source",
    f"""
    WITH tok AS (
      SELECT source, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(quantile_cont(n, 0.50), 2) AS p50_tokens,
           round(quantile_cont(n, 0.90), 2) AS p90_tokens,
           round(quantile_cont(n, 0.99), 2) AS p99_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens
    FROM tok GROUP BY source
    """,
)
def doc_length_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length profile per source — the table a trainer reads
    to pick context length, packing strategy and truncation budget
    (how much of each source's mass survives a ctx cut is read
    straight off p90/p99). Exact percentiles via ``F.percentile`` ≡
    DuckDB ``quantile_cont``; one token-count narrow map + one
    source-grain agg. At 100 TB swap for approx_percentile — same
    plan, sketch-mergeable."""
    from cmsspark_spark.functions.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.size(_tokens("text")).cast("long").alias("n")
    )
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.round(F.expr("percentile(n, 0.50D)"), 2).alias("p50_tokens"),
        F.round(F.expr("percentile(n, 0.90D)"), 2).alias("p90_tokens"),
        F.round(F.expr("percentile(n, 0.99D)"), 2).alias("p99_tokens"),
        F.max("n").alias("max_tokens"),
    )


@query(
    "packing_efficiency_report",
    f"""
    WITH tok AS (
      SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, doc_tokens,
             CAST(coalesce(sum(doc_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM tok
    ),
    chunks AS (
      SELECT source,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id,
             doc_id, doc_tokens, s
      FROM offs WHERE doc_tokens > 0
    ),
    occ AS (
      SELECT source, chunk_id,
             CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                      - greatest(s, chunk_id * 512)) AS BIGINT) AS fill
      FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE fill = 512) AS BIGINT)
             AS n_full_chunks,
           CAST(sum(fill) AS BIGINT) AS packed_tokens,
           round(sum(fill) * 1.0 / (count(*) * 512), 6) AS utilization
    FROM occ GROUP BY source
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA per source shard: chunks produced by the sharded
    concat packer, how many are exactly full, token occupancy and
    utilization (concat packing wastes only each shard's final partial
    chunk, so utilization is the bound bin-packing strategies are
    judged against). Same sharded parallel-cumsum plan as
    pack_concat_chunks_sharded; the report is one extra (source,
    chunk) re-agg of occupancy cells."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    chunks = PL.concat_pack_chunks(d, ctx_len=512, partition_cols=["source"])
    occ = chunks.groupBy("source", "chunk_id").agg(
        F.sum("tokens_in_chunk").alias("fill")
    )
    return occ.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("fill") == 512).cast("long")).alias("n_full_chunks"),
        F.sum("fill").alias("packed_tokens"),
        F.round(
            F.sum("fill") / (F.count(F.lit(1)) * 512), 6
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# Round 7: domain-grain boilerplate + curriculum export
# ---------------------------------------------------------------------------


@query(
    "domain_boilerplate_report",
    f"""
    WITH tok AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents),
    p AS (
      SELECT doc_id, source,
             array_to_string(tk[(i*2+1):(i*2+2)], ' ') AS para
      FROM tok, LATERAL (
        SELECT unnest(generate_series(
          0, greatest(CAST(ceil(len(tk)/2.0) AS INT) - 1, 0))) AS i) u
      WHERE len(trim(array_to_string(tk[(i*2+1):(i*2+2)], ' '))) >= 1
    ),
    ph AS (
      SELECT source, md5(para) AS h,
             count(DISTINCT doc_id) AS nd, count(*) AS c
      FROM p GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_para_instances,
             CAST(count(*) AS BIGINT) AS n_distinct_paras,
             CAST(count(*) FILTER (WHERE nd >= 3) AS BIGINT)
               AS n_boiler_paras,
             CAST(coalesce(sum(c) FILTER (WHERE nd >= 3), 0) AS BIGINT)
               AS boiler_instances
      FROM ph GROUP BY source
    ),
    aff AS (
      SELECT p.source, count(DISTINCT p.doc_id) AS n_docs_affected
      FROM p JOIN ph ON ph.source = p.source AND ph.h = md5(p.para)
      WHERE ph.nd >= 3
      GROUP BY p.source
    )
    SELECT a.source, a.n_para_instances, a.n_distinct_paras,
           a.n_boiler_paras, a.boiler_instances,
           round(a.boiler_instances * 1.0 / a.n_para_instances, 6)
             AS boilerplate_frac,
           CAST(coalesce(f.n_docs_affected, 0) AS BIGINT)
             AS n_docs_affected
    FROM agg a LEFT JOIN aff f ON f.source = a.source
    """,
)
def domain_boilerplate_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/template-grain dedup (operators/dedup.
    domain_boilerplate_report) — the RefinedWeb/CCNet boilerplate
    family: a paragraph recurring in >= 3 DISTINCT documents of the
    SAME source is template text (nav bars, footers, cookie banners)
    that per-document dedup cannot see. Per source: paragraph
    instances, distinct paragraphs, elected boilerplate groups, the
    boilerplate fraction of the paragraph stream, and the documents
    carrying >= 1 elected paragraph. Paragraphs are the word-soup
    corpus's 2-token groups (the paragraph_dedup_within_doc reformat
    trick — the small vocabulary makes cross-doc template repeats
    common, so the gate exercises real elections: 635 boilerplate
    groups at sf0.01). Shuffles carry (source, md5, id) cells only —
    paragraph text never crosses an exchange (plan-asserted); the
    hash-count table is checkpointed once for its two consumers."""
    d = _t(spark, sf_dir, "documents")
    from cmsspark_spark.functions.text import tokens as _tokens

    tk = _tokens("text")
    n_para = F.greatest(F.ceil(F.size(tk) / 2.0).cast("int") - 1, F.lit(0))
    paras_arr = F.filter(
        F.transform(
            F.sequence(F.lit(0), n_para),
            lambda i: F.concat_ws(" ", F.slice(tk, i * 2 + 1, 2)),
        ),
        lambda p: F.length(F.trim(p)) >= 1,
    )
    # cheap raw-text row filter (the paragraph_dedup plan lesson:
    # filtering on the computed array would re-run the build below the
    # widen Exchange)
    paras = (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("source").alias("domain"),
            F.col("doc_id").alias("id"),
            F.posexplode(paras_arr).alias("pos", "para"),
        )
    )
    return D.domain_boilerplate_report(paras, min_docs=3).withColumnRenamed(
        "domain", "source"
    )


_STOP_SQL = "['the','a','an','of','and','or','is','in','to','it']"


@query(
    "curriculum_length_quality_cells",
    f"""
    WITH scored AS (
      SELECT source, CAST(len(tk) AS BIGINT) AS n,
             len(list_filter(tk, t -> list_contains({_STOP_SQL}, t)))
               * 1.0 / greatest(len(tk), 1) AS q
      FROM (SELECT source, {_TOKS_SQL} AS tk FROM documents)
    ),
    lp AS (
      SELECT source, quantile_cont(n, 0.50) AS p_lo,
             quantile_cont(n, 0.90) AS p_hi
      FROM scored GROUP BY source
    ),
    qp AS (
      SELECT quantile_cont(q, 0.25) AS q_lo,
             quantile_cont(q, 0.75) AS q_hi
      FROM scored
    ),
    binned AS (
      SELECT s.source,
             CASE WHEN s.n <= lp.p_lo THEN 'short'
                  WHEN s.n <= lp.p_hi THEN 'mid'
                  ELSE 'long' END AS length_bin,
             CASE WHEN s.q <= qp.q_lo THEN 'low'
                  WHEN s.q <= qp.q_hi THEN 'mid'
                  ELSE 'high' END AS quality_bin,
             s.n
      FROM scored s JOIN lp USING (source), qp
    ),
    cells AS (
      SELECT source, length_bin, quality_bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS cell_tokens
      FROM binned GROUP BY 1, 2, 3
    )
    SELECT source, length_bin, quality_bin, n_docs, cell_tokens,
           round(cell_tokens * 1.0 / sum(cell_tokens) OVER (), 6)
             AS token_share
    FROM cells
    """,
)
def curriculum_length_quality_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum export (operators/pipeline.curriculum_cells): join
    each source's token-count quantiles (p50/p90 — the
    doc_length_profile_by_source percentiles) and the global
    stopword-ratio quantiles (p25/p75) back onto the corpus to assign
    every document a (length_bin, quality_bin) cell, then emit the
    per-(source, cell) doc count, token mass and corpus token share —
    the table a curriculum/mixture sampler consumes to schedule
    training data from short-clean to long-hard. Exercises the
    broadcast of two tiny percentile frames onto a once-tokenized,
    checkpointed (source, n, q) frame; the only corpus-grain shuffle
    is the final cell groupBy."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    return PL.curriculum_cells(d)


# ---------------------------------------------------------------------------
# Round 7 additions: distributed k-means, soft dedup, containment, PSI drift
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE = 10, 2, 64, 1000


def _kmeans_oracle_cte(
    k: int, iters: int, dim: int, scale: int, where: str = ""
) -> str:
    """CTE chain replicating operators/similarity.kmeans_lloyd step for
    step in DuckDB: integer quantization, k-smallest-id seeds, per-
    iteration exact-integer assignment (all intermediates < 2^53, so
    the double dot products are exact) and floor((2s+n)/2n) centroid
    update with empty-cluster fallback. Ends at CTE ``af`` (final
    assignment: _id, cluster, d2). ``where`` filters the TRAINING
    corpus (the incremental-serving oracle trains on a base snapshot
    and assigns the increment against ``c{iters}``). Single-sourced so
    the k-means oracles can never drift."""
    sum_list = ", ".join(f"SUM(q[{i + 1}]) AS s{i}" for i in range(dim))
    cent_list = ", ".join(
        f"CAST(floor((2*s{i} + n)/(2.0*n)) AS BIGINT)" for i in range(dim)
    )

    def assign(cents: str) -> str:
        d2 = (
            "list_dot_product(q.q::DOUBLE[], q.q::DOUBLE[]) "
            "- 2*list_dot_product(q.q::DOUBLE[], c.c::DOUBLE[]) "
            "+ list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[])"
        )
        return f"""
      SELECT _id, cluster, d2 FROM (
        SELECT q._id, c.cluster, CAST({d2} AS BIGINT) AS d2,
               row_number() OVER (PARTITION BY q._id
                 ORDER BY {d2}, c.cluster) AS rk
        FROM q, {cents} c
      ) WHERE rk = 1
    """

    parts = [
        f"""q AS (
      SELECT vec_id AS _id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x*{scale}) AS BIGINT)) AS q
      FROM embeddings {where}
    )""",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY _id) - 1 AS cluster, q AS c
      FROM q ORDER BY _id LIMIT {k}
    )""",
    ]
    for it in range(iters):
        parts.append(f"a{it + 1} AS ({assign(f'c{it}')})")
        parts.append(
            f"""u{it + 1} AS (
      SELECT a{it + 1}.cluster, count(*) AS n, {sum_list}
      FROM a{it + 1} JOIN q USING (_id) GROUP BY a{it + 1}.cluster
    )"""
        )
        parts.append(
            f"""c{it + 1} AS (
      SELECT c{it}.cluster,
             CASE WHEN u{it + 1}.n IS NULL THEN c{it}.c
                  ELSE list_value({cent_list}) END AS c
      FROM c{it} LEFT JOIN u{it + 1}
        ON c{it}.cluster = u{it + 1}.cluster
    )"""
        )
    parts.append(f"af AS ({assign(f'c{iters}')})")
    return ",\n    ".join(parts)


@query(
    "kmeans_embedding_clusters",
    f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE)},
    sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
              FROM af GROUP BY 1)
    SELECT af._id AS vec_id, af.cluster, sizes.n_members, af.d2
    FROM af JOIN sizes USING (cluster)
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the FULL embedding corpus
    (operators/similarity.kmeans_lloyd): k-smallest-id seeds, 2 exact
    integer-quantized iterations, final per-vector assignment with its
    exact squared distance and cluster size. The corpus-clustering
    step a SemDeDup pipeline or an offline IVF build runs at scale —
    unlike train_ivf_centroids' bounded driver sample, every row
    participates in every update. Per iteration: one NARROW assignment
    pass (centroids are plan literals) + one k-row shuffle; the only
    extra shuffle here is the size join-back. Engine-exact by integer
    quantization, so the DuckDB oracle reproduces it bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    assign = S.kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    sizes = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return assign.join(sizes, "cluster").select(
        "vec_id", "cluster", "n_members", "d2"
    )


@query(
    "kmeans_cluster_quality",
    f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE)},
    m AS (
      SELECT af.cluster, af.d2, e.label
      FROM af JOIN embeddings e ON af._id = e.vec_id
    ),
    per_label AS (
      SELECT cluster, label, count(*) AS cnt FROM m GROUP BY 1, 2
    ),
    maj AS (
      SELECT cluster, label AS majority_label, cnt AS n_majority
      FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster
                    ORDER BY cnt DESC, label) AS rk
        FROM per_label
      ) WHERE rk = 1
    )
    SELECT m.cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(m.d2) AS BIGINT) AS inertia,
           CAST(max(maj.majority_label) AS INT) AS majority_label,
           CAST(max(maj.n_majority) AS BIGINT) AS n_majority,
           round(max(maj.n_majority) * 1.0 / count(*), 4) AS purity
    FROM m JOIN maj USING (cluster)
    GROUP BY m.cluster
    """,
)
def kmeans_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit for the k-means assignment: per-cluster
    size, exact inertia (sum of quantized squared distances) and label
    purity against the embeddings table's ground-truth ``label`` — the
    table you read to decide whether k/iters are adequate before
    using the clustering for SemDeDup bucketing or IVF lists. Composed
    from the same oracle CTE as kmeans_embedding_clusters so the two
    can never drift. Plan: assignment is narrow; the label join is a
    join on vec_id; majority election is the standard count→window
    rank at cluster grain (k rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    assign = S.kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    m = assign.join(emb.select("vec_id", "label"), "vec_id")
    per_label = m.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wr = Window.partitionBy("cluster").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    maj = (
        per_label.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("cnt").alias("n_majority"),
        )
    )
    stats = m.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia"),
    )
    return stats.join(maj, "cluster").select(
        "cluster",
        "n_members",
        "inertia",
        F.col("majority_label").cast("int").alias("majority_label"),
        "n_majority",
        F.round(F.col("n_majority") / F.col("n_members"), 4).alias("purity"),
    )


@query(
    "soft_dedup_downsample",
    f"""
    WITH comp AS ({_components_oracle_sql()}),
    sizes AS (SELECT component, count(*) AS n FROM comp GROUP BY 1),
    m AS (
      SELECT comp.doc_id, sizes.n
      FROM comp JOIN sizes USING (component)
    )
    SELECT d.doc_id,
           CAST(coalesce(m.n, 1) AS BIGINT) AS n_members,
           ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 2147483648 % 10000
             < floor(10000.0 / coalesce(m.n, 1)) AS kept
    FROM documents d LEFT JOIN m USING (doc_id)
    """,
)
def soft_dedup_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (operators/dedup.soft_dedup_keep): every doc keeps a
    deterministic hash coin with keep-probability 1/near-dup-cluster-
    size — one EXPECTED survivor per cluster instead of a hard
    election, so duplicated content is frequency-corrected in the
    training mix without biasing which copy survives. Clusters come
    from the standard LSH→Jaccard→connected-components path;
    singletons are always kept. The coin is content-keyed
    (int_base_hash of the id), so the kept set is identical across
    engines and re-shards — the oracle replays it bit-for-bit on the
    composed components CTE."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    return D.soft_dedup_keep(d, comp, "doc_id")


@query(
    "containment_nested_pairs",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
           FROM toks),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    rare AS (SELECT shingle FROM dfc WHERE df BETWEEN 2 AND 5),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN rare USING (shingle) JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS nc
      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(nc AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           round(nc * 1.0 / sa.n, 4) AS containment_a,
           round(nc * 1.0 / sb.n, 4) AS containment_b,
           CASE WHEN nc * 1.0 / sa.n >= nc * 1.0 / sb.n
                THEN 'a_in_b' ELSE 'b_in_a' END AS direction
    FROM common JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(nc * 1.0 / sa.n, nc * 1.0 / sb.n) >= 0.8
    """,
)
def containment_nested_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-nested-in-doc detection (operators/dedup.containment_pairs):
    directed n-gram containment |A∩B|/|A| over rare-shingle-blocked
    candidates. Complements the MinHash/Jaccard path, which
    structurally misses a short doc quoted inside a long one (Jaccard
    ≈ |A|/|B| even when containment = 1): band collision probability
    tracks Jaccard, so the blocking here keys on shared RARE shingles
    (df ∈ [2,5]) instead — ≤ df² pairs per shingle, ids and hashed
    shingles shuffle, text never. Emits both directions' containment
    and which side is the contained one."""
    d = _t(spark, sf_dir, "documents")
    return D.containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, min_df=2, max_df=5
    )


@query(
    "snapshot_drift_psi",
    f"""
    WITH scored AS (
      SELECT source, doc_id % 2 = 0 AS is_ref,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents
    ),
    bounds AS (
      SELECT source, quantile_cont(n, [0.25, 0.50, 0.75]) AS bs
      FROM scored WHERE is_ref GROUP BY source
    ),
    binned AS (
      SELECT s.source, s.is_ref,
             1 + len(list_filter(b.bs, x -> s.n > x)) AS bin
      FROM scored s JOIN bounds b USING (source)
    ),
    counts AS (
      SELECT source, bin,
             CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT *, sum(n_ref) OVER (PARTITION BY source) AS Nr,
                sum(n_cur) OVER (PARTITION BY source) AS Nc
      FROM counts
    ),
    terms AS (
      SELECT source, bin, n_ref, n_cur,
             (n_ref + 0.5) / (Nr + 2.0) AS pr,
             (n_cur + 0.5) / (Nc + 2.0) AS pc
      FROM tot
    )
    SELECT source, bin, n_ref, n_cur,
           round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
           round((pc - pr) * ln(pc / pr), 6) AS psi_term,
           round(sum((pc - pr) * ln(pc / pr))
                   OVER (PARTITION BY source), 6) AS psi
    FROM terms
    """,
)
def snapshot_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift QA (operators/pipeline.snapshot_psi): Population
    Stability Index of per-source token-length distributions between
    the even-id half (the 'reference' snapshot) and the odd-id half
    (the 'current' ingest) — the gate a pipeline runs when new data
    lands to decide whether mixtures/curricula need re-tuning
    (PSI < 0.1 stable, > 0.25 action). Bins are the reference half's
    exact per-source quartiles broadcast back onto the corpus
    (approx_percentile at 100 TB, same shape); Laplace +0.5 smoothing
    keeps empty bins finite. One corpus shuffle (the (source, bin)
    count) after a narrow binning fold."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    from cmsspark_spark.functions.text import tokens as _tokens

    scored = d.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        F.size(_tokens("text")).cast("long").alias("n"),
    )
    return PL.snapshot_psi(scored, "source", "n", "is_ref")


def _pq_refine_oracle(k: int = 5, shortlist: int = 20) -> str:
    """Composed: the parameterized PQ-ADC oracle (rank ≤ shortlist) as
    the candidate CTE, then the exact-cosine re-rank — mirroring
    pq_adc_refine_topk's two phases, so shortlist cut and refine can
    never drift from the registered PQ machinery."""
    return f"""
    WITH short AS ({_pq_oracle(shortlist)}),
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    rescored AS (
      SELECT s.query_id, s.vec_id,
             list_dot_product(ce.e, qe.e)
               / (sqrt(list_dot_product(ce.e, ce.e))
                  * sqrt(list_dot_product(qe.e, qe.e))) AS cos
      FROM short s
      JOIN cv ce ON s.vec_id = ce.vec_id
      JOIN cv qe ON s.query_id = qe.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM rescored
    ) WHERE rank <= {k}
    """


@query("ann_pq_refine_topk")
def ann_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC + exact refine (operators/similarity.pq_adc_refine_topk):
    compressed-domain shortlist of 20 per query, raw vectors fetched
    for shortlist members only, exact-cosine re-rank to top-5 — the
    two-phase shape production PQ systems run (IVFADC + refine). The
    missing rung between ann_pq_static_topk (pure compressed ranking)
    and ann_cosine_topk (full exact scan) on the ANN ladder; audited
    alongside the others in ann_ladder_recall_report. Hash-exact: the
    ADC order is cross-engine deterministic and the refine is the
    shared exact-cosine tail."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = S.pq_adc_refine_topk(
        emb, queries_df, S.pq_codebook(), k=5, shortlist=20
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ORACLES["ann_pq_refine_topk"] = _pq_refine_oracle()

# r7: the refine rung joins the recall ladder — extend the shared
# method list and rebuild the composed ladder oracle (the Spark report
# reads the same list at call time, so both sides pick it up together).
_ANN_LADDER_METHODS.append(("pq_refine", "ann_pq_refine_topk"))
ORACLES["ann_ladder_recall_report"] = _ann_ladder_oracle()


@query(
    "semantic_dedup_kmeans",
    f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE)},
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    normed AS (
      SELECT af.cluster, co.vec_id, co.e,
             sqrt(list_dot_product(co.e, co.e)) AS n
      FROM corpus co JOIN af ON co.vec_id = af._id
    ),
    pairs AS (
      SELECT a.cluster, a.vec_id AS ia, b.vec_id AS ib
      FROM normed a JOIN normed b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e) / (a.n * b.n) >= 0.4
    ),
    drops AS (SELECT DISTINCT ib FROM pairs)
    SELECT nm.cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.ib) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.ib) AS BIGINT) AS n_kept
    FROM normed nm LEFT JOIN drops d ON nm.vec_id = d.ib
    GROUP BY nm.cluster
    """,
)
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in the paper's own two-phase shape (operators/
    similarity.semantic_dedup_assigned over similarity.kmeans_lloyd):
    k-means FIRST buckets the corpus, then the deterministic lower-id
    leader rule drops near-duplicates WITHIN each cluster — the
    quadratic check never leaves a bucket. Where semantic_dedup_static
    buckets by seeded random centroids (proving the machinery), this
    rung uses the trained full-corpus clustering, and because
    kmeans_lloyd is engine-exact the whole composition stays
    hash-exact: the oracle chains the k-means CTE into the same
    per-cluster leader SQL. Per-cluster summary output (sizes, drops,
    keeps)."""
    emb = _t(spark, sf_dir, "embeddings")
    assign = S.kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    flags = S.semantic_dedup_assigned(emb, assign, threshold=0.4)
    return flags.groupBy(F.col("_cluster").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count("_dropped").alias("n_dropped"),
        (F.count(F.lit(1)) - F.count("_dropped")).alias("n_kept"),
    )


@query(
    "doc_novelty_scores",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    grams AS (
      SELECT doc_id, unnest(gs) AS g
      FROM (SELECT doc_id, {_SHINGLES_SQL} AS gs FROM tok)
    ),
    gh AS (
      SELECT doc_id,
             ('0x' || substring(md5(g), 1, 15))::BIGINT % 2147483648 AS h
      FROM grams
    ),
    firsts AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS fd FROM gh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                   * 1.0 / count(*), 6) AS novelty_frac
    FROM firsts GROUP BY doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the dataset-curation contribution
    metric: how many of a doc's distinct trigrams appear here for the
    FIRST time in ingest order (min doc_id owns the gram)? A doc with
    near-zero novelty is redundant with the corpus prefix even when no
    single near-dup pair flags it (it is stitched from many seen
    fragments) — the complement of pairwise dedup, and the score
    greedy data-selection orderings maximize. Grams travel as the
    md5-based 31-bit hash (identical in the oracle, so even the rare
    hash-merge is reproduced bit-for-bit): one gram-hash shuffle for
    the first-occurrence window, one doc-grain re-agg — ids and hashes
    shuffle, text never."""
    from cmsspark_spark.functions.text import int_base_hash, shingle_frame

    d = _t(spark, sf_dir, "documents")
    gh = shingle_frame(d, "doc_id", "text", 3, ("doc_id", "_arr")).select(
        "doc_id", F.explode("_arr").alias("_g")
    ).select("doc_id", int_base_hash(F.col("_g")).alias("_h"))
    w = Window.partitionBy("_h")
    firsts = gh.select("doc_id", F.min("doc_id").over(w).alias("_fd"))
    novel = (F.col("_fd") == F.col("doc_id")).cast("long")
    return firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(novel).alias("n_novel"),
        F.round(F.sum(novel) / F.count(F.lit(1)), 6).alias("novelty_frac"),
    )


def _ivf_kmeans_oracle(k: int = 5, nprobe: int = 3) -> str:
    """Composed: the k-means CTE supplies both the inverted lists
    (``af``) and the final centroids (``c2``); probes rank clusters by
    the SAME exact integer d2; candidates rescore by exact cosine —
    mirroring ivf_kmeans_topk phase for phase."""
    d2 = (
        "list_dot_product(qq.q::DOUBLE[], qq.q::DOUBLE[]) "
        "- 2*list_dot_product(qq.q::DOUBLE[], c.c::DOUBLE[]) "
        "+ list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[])"
    )
    return f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE)},
    qq AS (SELECT _id AS query_id, q FROM q WHERE _id < 5),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT qq.query_id, c.cluster,
               row_number() OVER (PARTITION BY qq.query_id
                 ORDER BY {d2}, c.cluster) AS rk
        FROM qq, c{_KM_ITERS} c
      ) WHERE rk <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a._id AS vec_id
      FROM probes p JOIN af a ON p.cluster = a.cluster
      WHERE a._id <> p.query_id
    ),
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    rescored AS (
      SELECT cand.query_id, cand.vec_id,
             list_dot_product(ce.e, qe.e)
               / (sqrt(list_dot_product(ce.e, ce.e))
                  * sqrt(list_dot_product(qe.e, qe.e))) AS cos
      FROM cand
      JOIN cv ce ON cand.vec_id = ce.vec_id
      JOIN cv qe ON cand.query_id = qe.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM rescored
    ) WHERE rank <= {k}
    """


@query("ann_ivf_kmeans_topk")
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF trained AND served from the distributed k-means
    (operators/similarity.ivf_kmeans_topk): the full-corpus Lloyd
    centroids are the coarse quantizer, inverted lists + probe routing
    use the exact integer L2 the trainer optimizes, candidates get the
    exact-cosine rescore. The trained sibling of ann_ivf_static_topk —
    and unlike the driver-sampled ann_ivf_topk (rows-only), this
    trained form is hash-exact: integer routing makes every list and
    probe decision reproducible, so the oracle composes the k-means
    CTE straight into the probe/rescore SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_kmeans_topk(
        emb, queries_df, k=5, nprobe=3,
        km_k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE,
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


ORACLES["ann_ivf_kmeans_topk"] = _ivf_kmeans_oracle()

# r7: the trained-IVF rung joins the recall ladder (same in-lockstep
# list + oracle rebuild as pq_refine above).
_ANN_LADDER_METHODS.append(("ivf_kmeans", "ann_ivf_kmeans_topk"))
ORACLES["ann_ladder_recall_report"] = _ann_ladder_oracle()


_KM_ASSIGN_D2 = (
    "list_dot_product(inc.q::DOUBLE[], inc.q::DOUBLE[]) "
    "- 2*list_dot_product(inc.q::DOUBLE[], c.c::DOUBLE[]) "
    "+ list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[])"
)


@query(
    "kmeans_assign_increment",
    f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE,
                             where="WHERE vec_id % 2 = 0")},
    inc AS (
      SELECT vec_id AS _id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x*{_KM_SCALE}) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id % 2 = 1
    )
    SELECT _id AS vec_id, cluster, d2 FROM (
      SELECT inc._id, c.cluster, CAST({_KM_ASSIGN_D2} AS BIGINT) AS d2,
             row_number() OVER (PARTITION BY inc._id
               ORDER BY {_KM_ASSIGN_D2}, c.cluster) AS rk
      FROM inc, c{_KM_ITERS} c
    ) WHERE rk = 1
    """,
)
def kmeans_assign_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL k-means — train once, assign the increment without
    retraining (similarity.kmeans_assign over similarity's memoized
    trainer; the persisted form is save_kmeans_model +
    kmeans_serve_batch_fn in streaming). The base snapshot (even
    vec_ids) trains the model; the ingest increment (odd vec_ids) is
    ASSIGNED with the stored centroids — a narrow plan-literal map,
    zero shuffle, no iteration, cost ∝ increment. The closing piece of
    the cluster-bucketed family's serve loop: SemDeDup buckets,
    cluster mixtures and trained IVF lists stay valid for new data
    without re-running Lloyd's, and the PSI drift gate
    (kmeans_serve_batch_fn's ledger) decides when a retrain is due.
    Hash-exact: integer quantization makes train AND assign
    bit-reproducible, so the oracle composes the k-means CTE (train
    half) with a literal assignment of the serve half."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    inc = emb.filter(F.col("vec_id") % 2 == 1)
    _, cents = S._kmeans_shared(
        base, "vec_id", "embedding", _KM_SCALE, _KM_K, _KM_ITERS
    )
    return S.kmeans_assign(inc, cents, scale=_KM_SCALE)


# ---------------------------------------------------------------------------
# Round 8: tokenizer-aware length accounting — the trained BPE applied
# to the length/packing family, in REAL-tokenizer units
# ---------------------------------------------------------------------------

#: merge rounds for the tokenizer-aware queries (small enough that the
#: oracle unrolls the training loop as CTEs; the memo makes the Spark
#: side train once per session regardless of how many queries consume it)
_BPE_K = 6


def _bpe_doc_counts_cte(k: int) -> str:
    """DuckDB CTE chain that TRAINS the same BPE the Spark side trains
    (train_bpe_merges: k rounds of weighted pair-count argmax with
    (count DESC, l, r) tie-break) and ENCODES every doc, ending at CTE
    ``dcnt`` (doc_id, source, n = BPE token count). Training unrolls
    as k CTE triples: pair counts over the vocab's symbol strings, a
    1-row argmax merge pick, then a replace() merge application —
    symbols live in a chr(31)-delimited string where each symbol is
    wrapped in separators, so replace(SEP·l·SEP·SEP·r·SEP → SEP·lr·SEP)
    is exactly the greedy non-overlapping left-to-right merge pass the
    Python encoder runs (proven merge-for-merge and count-for-count
    against apply_bpe at sf0.01). CTEs are MATERIALIZED: DuckDB
    otherwise inlines the chain and re-evaluates it exponentially."""
    sep = "chr(31)"
    parts = [
        f"tok AS MATERIALIZED (SELECT doc_id, source, unnest({_TOKS_SQL})"
        " AS w FROM documents)",
        "wf AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok"
        " GROUP BY w)",
        f"w0 AS MATERIALIZED (SELECT w, n, {sep} ||"
        f" array_to_string(string_split(w, ''), {sep}||{sep}) || {sep}"
        f" || {sep} || '</w>' || {sep} AS s FROM wf)",
    ]
    for i in range(k):
        parts.append(
            f"p{i} AS (SELECT pr[1] AS l, pr[2] AS r,"
            " CAST(sum(n) AS BIGINT) AS cnt FROM (SELECT n,"
            " unnest([ [sy[j], sy[j+1]] for j in"
            " generate_series(1, len(sy)-1) ]) AS pr FROM"
            f" (SELECT n, string_split(s[2:len(s)-1], {sep}||{sep})"
            f" AS sy FROM w{i})) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT l, r FROM p{i}"
            " ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w, n, replace(s,"
            f" {sep}||(SELECT l FROM m{i})||{sep}||{sep}||"
            f"(SELECT r FROM m{i})||{sep},"
            f" {sep}||(SELECT l||r FROM m{i})||{sep}) AS s FROM w{i})"
        )
    parts.append(
        f"wcnt AS (SELECT w, CAST((len(s) - len(replace(s, {sep}, '')))/2"
        f" AS BIGINT) AS c FROM w{k})"
    )
    parts.append(
        "dcnt AS (SELECT d.doc_id, d.source,"
        " CAST(coalesce(sum(wcnt.c), 0) AS BIGINT) AS n"
        " FROM documents d LEFT JOIN tok ON d.doc_id = tok.doc_id"
        " LEFT JOIN wcnt ON tok.w = wcnt.w GROUP BY d.doc_id, d.source)"
    )
    return ",\n    ".join(parts)


# bpe_vocab_merges trains k=8 merges; its oracle replays the same 8
# rounds (CTEs m0..m7 are the argmax picks) and reads them back in
# rank order — registered here because the CTE builder is defined
# above, after the query function itself (same late-assignment
# pattern as ORACLES["rrf_hybrid_topk"]).
ORACLES["bpe_vocab_merges"] = (
    "WITH "
    + _bpe_doc_counts_cte(8)
    + "\n    "
    + "\n    UNION ALL ".join(
        f'SELECT CAST({i + 1} AS INTEGER) AS rank, l AS "left",'
        f' r AS "right", l || r AS merged FROM m{i}'
        for i in range(8)
    )
)


@query(
    "bpe_length_profile_by_source",
    f"""
    WITH {_bpe_doc_counts_cte(_BPE_K)}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_bpe_tokens,
           round(quantile_cont(n, 0.50), 2) AS p50_bpe,
           round(quantile_cont(n, 0.90), 2) AS p90_bpe,
           round(quantile_cont(n, 0.99), 2) AS p99_bpe,
           CAST(max(n) AS BIGINT) AS max_bpe
    FROM dcnt GROUP BY source
    """,
)
def bpe_length_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length profile in REAL-TOKENIZER units: train BPE on
    the corpus (pipeline.bpe_merges_shared — memoized, so the packing
    twin reuses the same merges), encode every doc (apply_bpe — an
    Arrow-batched narrow map), and profile per-source BPE lengths.
    Whitespace counts (doc_length_profile_by_source) misprice context
    budgets — subword inflation varies by source (rare-word-heavy
    sources inflate most), and THIS table is the one a trainer should
    read before picking ctx_len/truncation. Hash-exact against a
    DuckDB oracle that replays the full BPE train+encode in SQL."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    merges = PL.bpe_merges_shared(d, "text", k=_BPE_K)
    enc = PL.apply_bpe(d, merges).select(
        "source", F.size("bpe_tokens").cast("long").alias("n")
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_bpe_tokens"),
        F.round(F.expr("percentile(n, 0.50D)"), 2).alias("p50_bpe"),
        F.round(F.expr("percentile(n, 0.90D)"), 2).alias("p90_bpe"),
        F.round(F.expr("percentile(n, 0.99D)"), 2).alias("p99_bpe"),
        F.max("n").alias("max_bpe"),
    )


@query(
    "bpe_packing_efficiency",
    f"""
    WITH {_bpe_doc_counts_cte(_BPE_K)},
    offs AS (
      SELECT doc_id, source, n AS doc_tokens,
             CAST(coalesce(sum(n) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM dcnt
    ),
    chunks AS (
      SELECT source,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id,
             doc_id, doc_tokens, s
      FROM offs WHERE doc_tokens > 0
    ),
    occ AS (
      SELECT source, chunk_id,
             CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                      - greatest(s, chunk_id * 512)) AS BIGINT) AS fill
      FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE fill = 512) AS BIGINT)
             AS n_full_chunks,
           CAST(sum(fill) AS BIGINT) AS packed_tokens,
           round(sum(fill) * 1.0 / (count(*) * 512), 6) AS utilization
    FROM occ GROUP BY source
    """,
)
def bpe_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA in REAL-TOKENIZER units: the sharded concat packer
    budgeted by trained-BPE token counts (concat_pack_chunks's
    ``merges`` hook) instead of whitespace words — chunk counts and
    utilization as the trainer's data loader would actually see them.
    Same sharded parallel-cumsum plan as packing_efficiency_report;
    the only addition is the Arrow encode map supplying the counter.
    The memoized merges are shared with bpe_length_profile_by_source,
    so a session pays for BPE training once."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    merges = PL.bpe_merges_shared(d, "text", k=_BPE_K)
    chunks = PL.concat_pack_chunks(
        d, ctx_len=512, partition_cols=["source"], merges=merges
    )
    occ = chunks.groupBy("source", "chunk_id").agg(
        F.sum("tokens_in_chunk").alias("fill")
    )
    return occ.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("fill") == 512).cast("long")).alias("n_full_chunks"),
        F.sum("fill").alias("packed_tokens"),
        F.round(
            F.sum("fill") / (F.count(F.lit(1)) * 512), 6
        ).alias("utilization"),
    )


@query(
    "cluster_balanced_mixture",
    f"""
    WITH {_kmeans_oracle_cte(_KM_K, _KM_ITERS, _KM_DIM, _KM_SCALE)},
    per AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs FROM af
      GROUP BY cluster
    ),
    shares AS (
      SELECT cluster, n_vecs,
             n_vecs / sum(n_vecs) OVER () AS share
      FROM per
    )
    SELECT cluster, n_vecs,
           round(share, 6) AS share,
           round(pow(share, 0.5) / sum(pow(share, 0.5)) OVER (), 6)
             AS weight,
           round((pow(share, 0.5) / sum(pow(share, 0.5)) OVER ()) / share,
                 6) AS boost
    FROM shares
    """,
)
def cluster_balanced_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling weights — the metadata-free mixture:
    when a corpus has no trustworthy domain labels, k-means clusters
    over embeddings stand in for domains, and temperature α=0.5
    up-weights small clusters so the sampler doesn't let a few dense
    modes dominate (the embedding-space analogue of
    mixture_weights_temperature's per-source rebalancing; reuses
    operators/pipeline.mixture_weights verbatim with the cluster id as
    the grouping key and unit mass per vector). Deterministic because
    the clustering is engine-exact; the oracle composes the k-means
    CTE into the share/temperature SQL."""
    from cmsspark_spark.operators import pipeline as PL

    emb = _t(spark, sf_dir, "embeddings")
    assign = S.kmeans_lloyd(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS, scale=_KM_SCALE
    )
    out = PL.mixture_weights(
        assign, "cluster", alpha=0.5, token_count_col=F.lit(1)
    )
    return out.select(
        "cluster",
        F.col("n_tokens").alias("n_vecs"),
        F.round("token_share", 6).alias("share"),
        F.round("weight", 6).alias("weight"),
        F.round("boost", 6).alias("boost"),
    )


@query(
    "split_distribution_psi",
    f"""
    WITH scored AS (
      SELECT 'corpus' AS grp,
             ('0x' || substring(md5(text), 1, 15))::BIGINT
               % 2147483648 % 100 < 80 AS is_ref,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n
      FROM documents
    ),
    bounds AS (
      SELECT grp, quantile_cont(n, [0.25, 0.50, 0.75]) AS bs
      FROM scored WHERE is_ref GROUP BY grp
    ),
    binned AS (
      SELECT s.grp, s.is_ref,
             1 + len(list_filter(b.bs, x -> s.n > x)) AS bin
      FROM scored s JOIN bounds b USING (grp)
    ),
    counts AS (
      SELECT grp, bin,
             CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT *, sum(n_ref) OVER (PARTITION BY grp) AS Nr,
                sum(n_cur) OVER (PARTITION BY grp) AS Nc
      FROM counts
    ),
    terms AS (
      SELECT grp, bin, n_ref, n_cur,
             (n_ref + 0.5) / (Nr + 2.0) AS pr,
             (n_cur + 0.5) / (Nc + 2.0) AS pc
      FROM tot
    )
    SELECT grp, bin, n_ref AS n_train, n_cur AS n_holdout,
           round(pr, 6) AS p_train, round(pc, 6) AS p_holdout,
           round((pc - pr) * ln(pc / pr), 6) AS psi_term,
           round(sum((pc - pr) * ln(pc / pr))
                   OVER (PARTITION BY grp), 6) AS psi
    FROM terms
    """,
)
def split_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-QA, distribution shape: PSI of token-length distributions
    between the content-keyed train split (md5 bucket < 80, the same
    coin as hash_split_assign) and its 20% holdout — the partner of
    split_balance_chisq, which checks COUNT balance per cell; this
    checks the SHAPE a leak-free split must also preserve (a split
    keyed on content hash should be distribution-neutral; PSI near 0
    is the acceptance gate before the split ships). Reuses
    operators/pipeline.snapshot_psi verbatim with the split coin as
    the reference flag and one global group."""
    from cmsspark_spark.functions.text import tokens as _tokens

    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    split = T.hash_split("text", {"train": 80, "holdout": 100})
    scored = d.select(
        F.lit("corpus").alias("grp"),
        (split == "train").alias("is_ref"),
        F.size(_tokens("text")).cast("long").alias("n"),
    )
    out = PL.snapshot_psi(scored, "grp", "n", "is_ref")
    return out.select(
        "grp",
        "bin",
        F.col("n_ref").alias("n_train"),
        F.col("n_cur").alias("n_holdout"),
        F.col("p_ref").alias("p_train"),
        F.col("p_cur").alias("p_holdout"),
        "psi_term",
        "psi",
    )


_DSIR_B = 4096  # hashed-ngram buckets; smoothing mass = 0.5 * B
_DSIR_K = 200


def _dsir_oracle_cte(B: int) -> str:
    """Shared DSIR oracle CTE chain, count-then-multiply formulation
    mirroring pipeline.dsir_logratio_weights exactly: per-(doc,
    bucket) counts ``fb`` (the engine's persisted feature frame), the
    smoothed log-ratio table ``lam``, and per-pool-doc scores
    ``scored`` as ``Σ_b c_b·λ_b`` — so both engines sum the same
    ≤B-term float series. Single-sourced for the top-k and Gumbel
    resampling oracles."""
    return f"""tok AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents),
    grams AS (
      SELECT doc_id, is_t,
             ('0x' || substring(md5(g), 1, 15))::BIGINT
               % 2147483648 % {B} AS b
      FROM (
        SELECT doc_id, source IN ('src0', 'src1') AS is_t,
               unnest(list_concat(
                 [array_to_string(tk[i:i+0], ' ')
                  for i in generate_series(1, greatest(len(tk), 1))],
                 [array_to_string(tk[i:i+1], ' ')
                  for i in generate_series(1, greatest(len(tk) - 1, 1))]
               )) AS g
        FROM tok)
    ),
    fb AS (
      SELECT doc_id, is_t, b, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    lam AS (
      SELECT b,
             ln((sum(CASE WHEN is_t THEN c ELSE 0 END) + 0.5)
                / (sum(sum(CASE WHEN is_t THEN c ELSE 0 END)) OVER ()
                   + {0.5 * B}))
           - ln((sum(CASE WHEN is_t THEN 0 ELSE c END) + 0.5)
                / (sum(sum(CASE WHEN is_t THEN 0 ELSE c END)) OVER ()
                   + {0.5 * B})) AS lam
      FROM fb GROUP BY b
    ),
    scored AS (
      SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_grams,
             sum(f.c * l.lam) AS logw
      FROM fb f JOIN lam l USING (b)
      WHERE NOT f.is_t GROUP BY f.doc_id
    )"""


@query(
    "dsir_target_selection",
    f"""
    WITH {_dsir_oracle_cte(_DSIR_B)}
    SELECT doc_id, n_grams, round(logw, 6) AS log_weight,
           round(logw / n_grams, 6) AS avg_gram_logw,
           CAST(row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {_DSIR_K}
    """,
)
def dsir_target_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-domain data selection via hashed n-gram importance
    weights — the DSIR recipe (Xie et al., NeurIPS 2023): treat
    sources src0/src1 as the target-domain exemplar set, fit smoothed
    hashed unigram+bigram bucket distributions over target vs pool in
    one pass, score every pool doc with its log likelihood ratio, and
    keep the top-k most target-like docs (deterministic ties on
    doc_id). The quality-classifier gate's corpus-statistics twin: no
    trained model, just two count tables and a broadcast λ lookup.

    Plan: fit shuffle is ≤4096 bucket rows after map-side combine; λ
    broadcasts into the scoring pass (one doc-grain shuffle of id
    cells, text never shuffles); top-k is orderBy+limit
    (TakeOrderedAndProject — no global window over the pool), with
    row_number assigned on the 200 survivors only."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    scored = PL.dsir_logratio_weights(
        d, F.col("source").isin("src0", "src1"), n_buckets=_DSIR_B
    )
    sc2 = scored.select(
        "doc_id",
        "n_grams",
        F.round("log_weight", 6).alias("log_weight"),
        F.round("avg_gram_logw", 6).alias("avg_gram_logw"),
    )
    top = sc2.orderBy(F.col("log_weight").desc(), "doc_id").limit(_DSIR_K)
    w = Window.orderBy(F.col("log_weight").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@query(
    "dsir_gumbel_resample",
    f"""
    WITH {_dsir_oracle_cte(_DSIR_B)},
    keyed AS (
      SELECT doc_id, logw,
             logw - ln(-ln(
               (('0x' || substring(md5(doc_id::VARCHAR), 1, 13))::BIGINT
                + 0.5) / {float(16 ** 13)})) AS gkey
      FROM scored
    )
    SELECT doc_id, round(logw, 6) AS log_weight,
           round(gkey, 6) AS gumbel_key,
           CAST(row_number() OVER (ORDER BY round(gkey, 6) DESC, doc_id)
                AS BIGINT) AS rank
    FROM keyed
    QUALIFY rank <= {_DSIR_K}
    """,
)
def dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection step — importance RESAMPLING, not
    plain top-k: sample k pool docs without replacement with
    probability ∝ exp(log_weight) via the Gumbel-top-k trick
    (key = log w + Gumbel noise; the k largest keys ARE a
    weight-proportional sample-without-replacement). The noise is not
    random at run time: u is the md5-fold of doc_id mapped into
    (0, 1), so g = −ln(−ln u) is a pure function of content —
    membership reproduces across runs, shards, and engines, the same
    deterministic-coin discipline as mixture_resample. Versus
    dsir_target_selection (pure argmax — maximal distribution shift),
    resampling preserves pool diversity in exactly the way the paper
    argues matters. Ranking/cut use round(key, 6) with doc_id ties,
    cross-engine stable; the scoring plan is identical to the top-k
    form (tiny bucket fit + broadcast λ + one doc-grain shuffle)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    scored = PL.dsir_logratio_weights(
        d, F.col("source").isin("src0", "src1"), n_buckets=_DSIR_B
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16 ** 13))
    gkey = F.col("log_weight") - F.log(-F.log(u))
    sc2 = scored.select(
        "doc_id",
        F.round("log_weight", 6).alias("log_weight"),
        F.round(gkey, 6).alias("gumbel_key"),
    )
    top = sc2.orderBy(F.col("gumbel_key").desc(), "doc_id").limit(_DSIR_K)
    w = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


_LOGREG_B, _LOGREG_ITERS, _LOGREG_LR = 256, 3, 0.5


def _logreg_oracle_cte(B: int, iters: int, lr: float) -> str:
    """CTE chain replicating pipeline.logreg_hashed_train step for
    step in DuckDB: hashed unigram+bigram count features + intercept
    bucket, zero-init weights, per-iteration per-doc margin → sigmoid
    residual → per-bucket gradient → ``floor((w + lr·g/N)·1e6 +
    0.5)/1e6`` grid update (the exact Python-side quantizer, so the
    engines can only diverge by a rounding cliff). Ends at CTEs
    ``w{iters}`` (trained weights) / ``feat`` / ``lab``. Single-sourced
    for the two classifier oracles."""
    parts = [
        f"tok AS (SELECT doc_id, source, {_TOKS_SQL} AS tk FROM documents)",
        f"""grams AS (
      SELECT doc_id,
             ('0x' || substring(md5(g), 1, 15))::BIGINT
               % 2147483648 % {B} AS b
      FROM (
        SELECT doc_id,
               unnest(list_concat(
                 [array_to_string(tk[i:i+0], ' ')
                  for i in generate_series(1, greatest(len(tk), 1))],
                 [array_to_string(tk[i:i+1], ' ')
                  for i in generate_series(1, greatest(len(tk) - 1, 1))]
               )) AS g
        FROM tok)
    )""",
        f"""feat AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, {B} AS b, CAST(1 AS BIGINT) AS c FROM documents
    )""",
        """lab AS (
      SELECT doc_id, CASE WHEN source IN ('src0', 'src1')
             THEN 1.0 ELSE 0.0 END AS y FROM documents
    )""",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM documents)",
        f"w0 AS (SELECT i AS b, 0.0 AS w FROM range({B + 1}) t(i))",
    ]
    for it in range(iters):
        parts.append(
            f"""z{it + 1} AS (
      SELECT f.doc_id, sum(f.c * w.w) AS z
      FROM feat f JOIN w{it} w USING (b) GROUP BY 1
    )"""
        )
        parts.append(
            f"""r{it + 1} AS (
      SELECT z.doc_id, l.y - 1.0 / (1.0 + exp(-z.z)) AS r
      FROM z{it + 1} z JOIN lab l USING (doc_id)
    )"""
        )
        parts.append(
            f"""g{it + 1} AS (
      SELECT f.b, sum(f.c * r.r) AS g
      FROM feat f JOIN r{it + 1} r USING (doc_id) GROUP BY 1
    )"""
        )
        parts.append(
            f"""w{it + 1} AS (
      SELECT w.b,
             floor((w.w + {lr} * coalesce(g.g, 0.0)
                    / (SELECT n FROM nn)) * 1e6 + 0.5) / 1e6 AS w
      FROM w{it} w LEFT JOIN g{it + 1} g USING (b)
    )"""
        )
    return ",\n    ".join(parts)


@query(
    "quality_logreg_weights",
    f"""
    WITH {_logreg_oracle_cte(_LOGREG_B, _LOGREG_ITERS, _LOGREG_LR)}
    SELECT b, round(w, 6) AS weight FROM w{_LOGREG_ITERS}
    """,
)
def quality_logreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier, weights view: distributed full-batch
    GD logistic regression over hashed unigram+bigram count features
    (pipeline.logreg_hashed_train) with src0/src1 as the weak 'quality
    exemplar' label — the trainable form of the fixed-weight
    quality_classifier_gate and the fastText-style quality-filter rung
    of RefinedWeb/GPT-3-style pipelines, built on DataFrame ops with
    no MLlib. Engine-exact by the k-means discipline transplanted to
    float space: weights quantize to the 1e-6 grid (floor(x·1e6+0.5))
    after every iteration in BOTH engines. Per iteration the corpus
    sees one broadcast-weight join + two co-partitioned aggregations;
    only a ≤257-row gradient ever reaches the driver."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    feat, w = PL.logreg_hashed_shared(
        d, F.col("source").isin("src0", "src1"),
        n_buckets=_LOGREG_B, iters=_LOGREG_ITERS, lr=_LOGREG_LR,
    )
    return local_frame(
        spark,
        [(b, float(v)) for b, v in enumerate(w)], "b long, weight double"
    ).select("b", F.round("weight", 6).alias("weight"))


@query(
    "quality_logreg_scores",
    f"""
    WITH {_logreg_oracle_cte(_LOGREG_B, _LOGREG_ITERS, _LOGREG_LR)},
    zf AS (
      SELECT f.doc_id, sum(f.c * w.w) AS z
      FROM feat f JOIN w{_LOGREG_ITERS} w USING (b) GROUP BY 1
    )
    SELECT z.doc_id, CAST(l.y AS BIGINT) AS label,
           round(1.0 / (1.0 + exp(-z.z)), 6) AS p_quality,
           round(1.0 / (1.0 + exp(-z.z)), 6) >= 0.5 AS predicted
    FROM zf z JOIN lab l USING (doc_id)
    """,
)
def quality_logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier, inference view: every doc scored
    with the GD-fitted hashed-feature logistic model (same fit as
    quality_logreg_weights — shared trainer, shared oracle CTE), one
    broadcast join + one no-exchange per-doc aggregation. The
    keep/drop decision thresholds the ROUNDED probability in both
    engines so the boolean can't straddle a float cliff."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    feat, w = PL.logreg_hashed_shared(
        d, F.col("source").isin("src0", "src1"),
        n_buckets=_LOGREG_B, iters=_LOGREG_ITERS, lr=_LOGREG_LR,
    )
    scores = PL.logreg_hashed_score(feat, w)
    p6 = F.round("p", 6)
    return scores.select(
        F.col("_id").alias("doc_id"),
        F.col("_y").cast("long").alias("label"),
        p6.alias("p_quality"),
        (p6 >= 0.5).alias("predicted"),
    )


@query(
    "quality_logreg_threshold_sweep",
    f"""
    WITH {_logreg_oracle_cte(_LOGREG_B, _LOGREG_ITERS, _LOGREG_LR)},
    zf AS (
      SELECT f.doc_id, sum(f.c * w.w) AS z
      FROM feat f JOIN w{_LOGREG_ITERS} w USING (b) GROUP BY 1
    ),
    sc AS (
      SELECT z.doc_id, l.y,
             round(1.0 / (1.0 + exp(-z.z)), 6) AS p
      FROM zf z JOIN lab l USING (doc_id)
    ),
    th AS (SELECT i / 10.0 AS t FROM generate_series(1, 9) s(i)),
    ev AS (
      SELECT t,
        CAST(sum(CASE WHEN p >= t AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN p >= t AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN p < t AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN p < t AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc, th GROUP BY t
    )
    SELECT round(t, 1) AS threshold, tp, fp, fn, tn,
           round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy,
           round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision,
           round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall,
           round(2.0 * tp / nullif(2 * tp + fp + fn, 0), 6) AS f1
    FROM ev
    """,
)
def quality_logreg_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation rung: confusion counts and
    accuracy/precision/recall/F1 for the trained hashed-feature
    quality model at thresholds 0.1…0.9 against the weak source
    label — the table you read before choosing the production cut
    (the quality-gate twin of the ANN ladder's recall report). F1 is
    computed as 2·tp/(2·tp+fp+fn) — the harmonic-mean identity — so
    both engines divide the same integers. The 9× threshold fan-out
    is a broadcast cross join over already-scored docs (narrow),
    collapsing straight into a 9-row aggregate."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    feat, w = PL.logreg_hashed_shared(
        d, F.col("source").isin("src0", "src1"),
        n_buckets=_LOGREG_B, iters=_LOGREG_ITERS, lr=_LOGREG_LR,
    )
    sc = PL.logreg_hashed_score(feat, w).select(
        "_y", F.round("p", 6).alias("p")
    )
    th = spark.range(1, 10).select((F.col("id") / F.lit(10.0)).alias("t"))
    hit = F.col("p") >= F.col("t")
    pos = F.col("_y") == 1.0
    ev = (
        sc.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum((hit & pos).cast("long")).alias("tp"),
            F.sum((hit & ~pos).cast("long")).alias("fp"),
            F.sum((~hit & pos).cast("long")).alias("fn"),
            F.sum((~hit & ~pos).cast("long")).alias("tn"),
        )
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return ev.select(
        F.round("t", 1).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.round(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias("precision"),
        F.round(tp * 1.0 / F.nullif(tp + fn, F.lit(0)), 6).alias("recall"),
        F.round(2.0 * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6).alias("f1"),
    )


@query(
    "bm25_more_like_this",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q AS (SELECT DISTINCT doc AS qid, t FROM post WHERE doc < 5),
    dfb AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT t FROM q) GROUP BY 1
    ),
    cand AS (
      SELECT q.qid, p.doc,
             ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n)))))
               AS sc
      FROM q JOIN post p USING (t) JOIN dfb d USING (t), stats s
      WHERE p.doc <> q.qid
    ),
    scored AS (SELECT qid, doc, sum(sc) AS score FROM cand GROUP BY 1, 2)
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM scored)
    WHERE rank <= 10
    """,
)
def bm25_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Okapi/Lucene BM25 ranked retrieval as more-like-this
    (pipeline.bm25_more_like_this): docs 0-4 are queries, each
    retrieving its top-10 best-matching other docs over shared terms
    — the IR-scoring rung the inverted-index sidecar feeds. Postings
    (tf, dl) build in one (doc, term) shuffle and persist; query
    terms and their df table broadcast, so candidate generation is a
    narrow corpus pass and only (query, doc) score cells shuffle.
    Float parity: all score inputs are exact integers and the
    multiplicative constants enter as single literals on both sides
    (never re-derived constant sums — k1+1 as a sum lands on a
    round-to-even midpoint), with identical parenthesization."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    return PL.bm25_more_like_this(d, query_max_id=5, k=10)


@query(
    "bm25_champion_more_like_this",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q AS (SELECT DISTINCT doc AS qid, t FROM post WHERE doc < 5),
    tp AS (
      SELECT p.t, p.doc, p.tf, p.dl,
             (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n))))
               AS tfp
      FROM post p, stats s
      WHERE p.t IN (SELECT t FROM q)
    ),
    champ AS (
      SELECT t, doc FROM (
        SELECT t, doc, row_number() OVER (PARTITION BY t
                 ORDER BY round(tfp, 6) DESC, doc) AS rk
        FROM tp
      ) WHERE rk <= 16
    ),
    cand AS (
      SELECT DISTINCT q.qid, c.doc
      FROM q JOIN champ c USING (t)
      WHERE c.doc <> q.qid
    ),
    dfb AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM tp GROUP BY 1
    ),
    scored AS (
      SELECT cand.qid, cand.doc,
             sum(ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5))) * tp.tfp)
               AS score
      FROM cand
      JOIN tp ON tp.doc = cand.doc
      JOIN q ON q.qid = cand.qid AND q.t = tp.t
      JOIN dfb d ON d.t = tp.t, stats s
      GROUP BY 1, 2
    )
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM scored)
    WHERE rank <= 10
    """,
)
def bm25_champion_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 more-like-this through CHAMPION-LIST pruning
    (pipeline.bm25_champion_topk) — the at-scale rung the exact query
    names as its pruning path: per query term only the top-16 docs by
    tf-part enter the candidate set, candidates get the full exact
    score over all their matched query terms. Per-query cost is
    O(|terms|·16) candidates no matter how common a term is (the
    exact form pays Σ df(t)). Deterministic cut (round-6 tf-part grid,
    doc-id ties) + the shared exact tail ⇒ hash-exact against the
    composed oracle — a pruned retrieval rung the driver can verify
    value-for-value, like the trained ANN arms."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    return PL.bm25_champion_topk(d, query_max_id=5, k=10, champions=16)


def _bm25_pruning_oracle() -> str:
    """Composed from the two registered BM25 oracles (exact + champion)
    — same build discipline as the ANN ladder's oracle, so the report
    can never drift from the rungs it audits."""
    assert ORACLES.get("bm25_more_like_this")
    assert ORACLES.get("bm25_champion_more_like_this")
    return f"""
    WITH exact AS ({ORACLES["bm25_more_like_this"]}),
    pruned AS ({ORACLES["bm25_champion_more_like_this"]}),
    hits AS (
      SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM exact e JOIN pruned p
        ON e.query_id = p.query_id AND e.doc_id = p.doc_id
      GROUP BY e.query_id
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(coalesce(max(h.n_hit), 0) AS BIGINT) AS n_hit,
           round(coalesce(max(h.n_hit), 0) * 1.0 / count(*), 4)
             AS recall_at_10
    FROM exact e LEFT JOIN hits h ON e.query_id = h.query_id
    GROUP BY e.query_id
    """


@query("bm25_pruning_quality_report", None)
def bm25_pruning_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning-quality audit for champion-list BM25: per query, how
    much of the EXACT top-10 the pruned rung recovers (recall@10) —
    the retrieval sibling of ann_ladder_recall_report, read before
    trusting the bounded-cost rung at scale. Both sides come FROM the
    registered queries and the oracle composes their registered
    oracles, so report and rungs can never drift. Id-pair joins over
    top-10 lists — driver-light, one row per query."""
    exact = QUERIES["bm25_more_like_this"](spark, sf_dir).select(
        "query_id", "doc_id"
    )
    pruned = QUERIES["bm25_champion_more_like_this"](spark, sf_dir).select(
        "query_id", "doc_id"
    )
    hits = exact.join(pruned, ["query_id", "doc_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        per_q.join(hits, "query_id", "left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)).cast("long"))
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias(
                "recall_at_10"
            ),
        )
    )


ORACLES["bm25_pruning_quality_report"] = _bm25_pruning_oracle()


@query("bm25_maxscore_more_like_this", None)
def bm25_maxscore_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-k BM25 through MAX-SCORE pruning
    (pipeline.bm25_maxscore_parts) — the family member the exact
    rung's docstring names: champion lists bound cost with bounded
    recall; max-score bounds cost with NO recall loss. Seed champions
    establish a k-th-score threshold, each query term gets an integer
    micro-grid upper bound (floor(idf·max tf-part·1e6)+1, admissible
    by construction), and terms whose ascending-bound prefix sum
    stays below the threshold are skipped — docs matching only those
    terms provably cannot enter the top-k, id tie-breaks included.
    The oracle IS the exact rung's oracle, assigned verbatim below:
    equality with unpruned BM25 is the contract the driver checks,
    not a recall target."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    ranked, _ = PL.bm25_maxscore_parts(d, query_max_id=5, k=10)
    return ranked


# equal-to-exact BY CONSTRUCTION ⇒ the exact oracle, verbatim
ORACLES["bm25_maxscore_more_like_this"] = ORACLES["bm25_more_like_this"]


@query(
    "bm25_maxscore_pruning_report",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q AS (SELECT DISTINCT doc AS qid, t FROM post WHERE doc < 5),
    tp AS (
      SELECT p.t, p.doc, p.tf, p.dl,
             (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n))))
               AS tfp
      FROM post p, stats s
      WHERE p.t IN (SELECT t FROM q)
    ),
    tstat AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df, max(tfp) AS maxtf
      FROM tp GROUP BY 1
    ),
    ub AS (
      SELECT t, df,
             CAST(floor(ln(1.0 + ((s.n - df + 0.5) / (df + 0.5)))
                        * maxtf * 1000000.0) AS BIGINT) + 1 AS ubm
      FROM tstat, stats s
    ),
    champ AS (
      SELECT t, doc FROM (
        SELECT t, doc, row_number() OVER (PARTITION BY t
                 ORDER BY round(tfp, 6) DESC, doc) AS rk
        FROM tp
      ) WHERE rk <= 10
    ),
    seed AS (
      SELECT DISTINCT q.qid, c.doc FROM q JOIN champ c USING (t)
      WHERE c.doc <> q.qid
    ),
    seed_sc AS (
      SELECT seed.qid, seed.doc,
             sum(ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5))) * tp.tfp)
               AS score
      FROM seed
      JOIN tp ON tp.doc = seed.doc
      JOIN q ON q.qid = seed.qid AND q.t = tp.t
      JOIN tstat d ON d.t = tp.t, stats s
      GROUP BY 1, 2
    ),
    theta AS (
      SELECT qid, smicro AS theta FROM (
        SELECT qid, doc,
               CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS smicro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)
                   DESC, doc) AS rk
        FROM seed_sc
      ) WHERE rk = 10
    ),
    fl AS (
      SELECT q.qid, q.t, u.df, u.ubm, th.theta,
             sum(u.ubm) OVER (PARTITION BY q.qid ORDER BY u.ubm, q.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q JOIN ub u USING (t)
      LEFT JOIN theta th ON th.qid = q.qid
    ),
    fl2 AS (
      SELECT *, (theta IS NULL OR cum >= theta) AS essential FROM fl
    ),
    cand AS (
      SELECT f.qid, tp.doc FROM fl2 f JOIN tp ON tp.t = f.t
      WHERE f.essential AND tp.doc <> f.qid
      UNION
      SELECT qid, doc FROM seed
    ),
    rep AS (
      SELECT qid,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(CASE WHEN essential THEN 1 ELSE 0 END) AS BIGINT)
               AS n_essential,
             CAST(sum(df) AS BIGINT) AS postings_total,
             CAST(sum(CASE WHEN essential THEN df ELSE 0 END) AS BIGINT)
               AS postings_scanned
      FROM fl2 GROUP BY 1
    ),
    nc AS (SELECT qid, CAST(count(DISTINCT doc) AS BIGINT)
             AS n_candidates FROM cand GROUP BY 1)
    SELECT rep.qid AS query_id, n_terms, n_essential,
           postings_total, postings_scanned, n_candidates,
           (((postings_total - postings_scanned) * 1000000)
              // postings_total
            + (CASE WHEN 2 * (((postings_total - postings_scanned)
                 * 1000000) % postings_total) >= postings_total
               THEN 1 ELSE 0 END)) / 1000000.0 AS pruned_frac
    FROM rep JOIN nc USING (qid)
    """,
)
def bm25_maxscore_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning-RATE audit for the max-score rung: per query — terms,
    essential terms, total vs scanned posting mass (Σ df), candidate
    count, pruned fraction (half-up on the integer micro grid, never
    a float-division round). Where the champion report measures
    recall lost, this one measures cost saved at zero recall loss:
    the number a capacity planner reads before turning the rung on
    at 100 TB. The oracle replays seed scoring, θ election, the
    integer upper bounds and the ascending-bound prefix split
    merge-for-merge with the Spark side (shared micro grid, window
    cumsum, half-up integer ratio)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    _, report = PL.bm25_maxscore_parts(d, query_max_id=5, k=10)
    return report


@query(
    "image_near_dup_ahash",
    """
    WITH p AS (SELECT doc_id, text, length(text) AS L FROM documents),
    cells AS (
      SELECT doc_id, g.i,
             CASE WHEN L = 0 THEN 0
                  ELSE 3 * ascii(substring(repeat(text,
                         CAST(ceil(64.0 / L) AS INT)), g.i + 1, 1)) END AS c
      FROM p, (SELECT unnest(generate_series(0, 63)) AS i) g
    ),
    m AS (SELECT doc_id, sum(c) / 64.0 AS mean FROM cells GROUP BY doc_id),
    v AS (
      SELECT cells.doc_id,
             sum(CASE WHEN c > mean THEN (1::HUGEINT << i) ELSE 0 END) AS hv
      FROM cells JOIN m USING (doc_id) GROUP BY cells.doc_id
    ),
    h AS (SELECT doc_id,
                 CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                      THEN hv - 18446744073709551616::HUGEINT
                      ELSE hv END AS BIGINT) AS ahash FROM v)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 5
    """,
)
def image_near_dup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs
    (multimodal.image_near_dup_pairs): average-hash fingerprints over
    binary payloads + the shared Hamming pigeonhole block join —
    payload bytes never shuffle, only (id, 8-byte hash) cells. The
    demo payloads are the corpus' UTF-8 bytes (attach_binary_payload,
    same stand-in as multimodal_frame_sample), which exercise the
    FAKE-RASTER path end-to-end: tile bytes to the 8×8 grid, threshold
    at the mean, pack 64 bits signed. The corpus is ASCII, so DuckDB
    reproduces the whole fingerprint char-for-byte (repeat+ascii) and
    the pair set by brute-force xor/bit_count (pigeonhole makes the
    blocked join EXACTLY the ≤d pair set, so the all-pairs oracle is
    the same relation); the real-BMP decode rung of the same hash is
    pinned by pytest on planted images."""
    from cmsspark_spark.operators.multimodal import (
        attach_binary_payload,
        image_near_dup_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = image_near_dup_pairs(
        attach_binary_payload(d), max_hamming=5, max_parallelism=8
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "audio_near_dup_envelope",
    """
    WITH p AS (SELECT doc_id,
                      CASE WHEN length(text) = 0 THEN chr(0)
                           ELSE text END AS t
               FROM documents),
    k AS (SELECT doc_id, t, greatest(1, length(t) // 64) AS kk FROM p),
    wins AS (
      SELECT doc_id, g.i,
             (SELECT coalesce(sum(ascii(substring(t, j + 1, 1))), 0)
              FROM unnest(generate_series(g.i * kk, (g.i + 1) * kk - 1))
                AS u(j)
              WHERE j < length(t)) / (kk * 1.0) AS e
      FROM k, (SELECT unnest(generate_series(0, 63)) AS i) g
    ),
    m AS (SELECT doc_id, sum(e) / 64.0 AS mean FROM wins
          GROUP BY doc_id),
    v AS (SELECT wins.doc_id,
                 sum(CASE WHEN e > mean THEN (1::HUGEINT << i)
                     ELSE 0 END) AS hv
          FROM wins JOIN m USING (doc_id) GROUP BY wins.doc_id),
    h AS (SELECT doc_id,
                 CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                      THEN hv - 18446744073709551616::HUGEINT
                      ELSE hv END AS BIGINT) AS ahash FROM v)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 5
    """,
)
def audio_near_dup_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (multimodal.audio_near_dup_pairs): the
    energy-envelope fingerprint + the shared Hamming block join, on
    the same demo payloads as the image rung — exercising the
    FAKE-STREAM path end-to-end (raw bytes as amplitudes, 64 exact
    windows of len//64 samples, mean-threshold, signed bit packing).
    ASCII corpus ⇒ DuckDB replays the fingerprint byte-for-byte
    (ascii over substring windows, HUGEINT packing) and the bounded
    pair set by brute-force xor/bit_count — the pigeonhole-blocked
    engine join IS that relation. The real 16-bit PCM WAV decode rung
    of the same hash is pinned by pytest on planted clips."""
    from cmsspark_spark.operators.multimodal import (
        attach_binary_payload,
        audio_near_dup_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = audio_near_dup_pairs(
        attach_binary_payload(d), max_hamming=5, max_parallelism=8
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _cluster_split_oracle() -> str:
    """Composed from the components oracle + the shared md5 hash-split
    coin (same expression as hash_split_assign), so the query and the
    machinery it fixes can never drift."""
    return f"""
    WITH comp AS ({_components_oracle_sql()}),
    sp AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val' ELSE 'test' END AS own
      FROM (
        SELECT doc_id,
               ('0x' || substring(md5(text), 1, 15))::BIGINT
                 % 2147483648 % 100 AS b
        FROM documents
      )
    ),
    rep AS (
      SELECT c.doc_id, s.own AS rep_split
      FROM comp c JOIN sp s ON s.doc_id = c.component
    ),
    fin AS (
      SELECT s.doc_id,
             coalesce(r.rep_split, s.own) AS split,
             (r.rep_split IS NOT NULL) AS clustered,
             (r.rep_split IS NOT NULL AND r.rep_split <> s.own) AS moved
      FROM sp s LEFT JOIN rep r ON r.doc_id = s.doc_id
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE clustered) AS BIGINT)
             AS n_clustered,
           CAST(count(*) FILTER (WHERE moved) AS BIGINT) AS n_moved
    FROM fin GROUP BY split
    """


@query("cluster_consistent_split", _cluster_split_oracle())
def cluster_consistent_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FIXING split (pipeline.cluster_split_assign): every doc
    inherits the split of its near-dup cluster's representative, so a
    verified near-duplicate pair CANNOT straddle train/eval — the
    constructive fix for exactly what split_leakage_audit detects
    (content-hash splits prevent leakage only for exact duplicates;
    near-dups hash differently). Unclustered docs keep their own
    content-hash split, preserving stability under re-sharding and
    appends. Summary per split: docs, clustered docs, docs MOVED off
    their own-content split (the leakage that was fixed). Components
    come from the proven LSH→verify→min-label machinery; the oracle
    composes the components closure with the shared md5 split coin."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    from cmsspark_spark.operators import pipeline as PL

    assign = PL.cluster_split_assign(d, comp)
    return assign.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("clustered").cast("long")).alias("n_clustered"),
        F.sum(F.col("moved").cast("long")).alias("n_moved"),
    )


# ---------------------------------------------------------------------------
# Data-layout quality (scan pruning at 100 TB; operators/layout.py)
# ---------------------------------------------------------------------------

from cmsspark_spark.operators import layout as LAY  # noqa: E402

_LAY_PK = "CAST(l_partkey AS BIGINT)"
_LAY_SK = "CAST(l_suppkey AS BIGINT)"
_LAY_NF = 32  # simulated file count
_LAY_HASH_SQL = (
    "(('0x'||substring(md5(l_orderkey || '-' || l_linenumber),1,15))"
    "::BIGINT % 2147483648)"
)


def _layout_sql() -> str:
    bpk = LAY.bucket_expr(_LAY_PK, "_pkmin", "_pkmax", 256, "duck")
    bsk = LAY.bucket_expr(_LAY_SK, "_skmin", "_skmax", 256, "duck")
    f_sort = LAY.bucket_expr(_LAY_PK, "_pkmin", "_pkmax", _LAY_NF, "duck")
    zkey = LAY.interleave_expr(bpk, bsk)
    hchain, hfinal = LAY.hilbert_cte_chain(
        "b", ["pk", "sk", "f_hash", "f_sort", "f_z"], "_bpk", "_bsk"
    )
    return f"""
    WITH mm AS (
      SELECT min(l_partkey) AS _pkmin, max(l_partkey) AS _pkmax,
             min(l_suppkey) AS _skmin, max(l_suppkey) AS _skmax
      FROM lineitem
    ),
    b AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             {bpk} AS _bpk, {bsk} AS _bsk,
             {_LAY_HASH_SQL} % {_LAY_NF} AS f_hash,
             {f_sort} AS f_sort,
             ({zkey}) // {65536 // _LAY_NF} AS f_z
      FROM lineitem, mm
    ){hchain},
    cells AS (
      SELECT pk, sk, 'hash' AS layout, f_hash AS file_id FROM b
      UNION ALL SELECT pk, sk, 'sort', f_sort FROM b
      UNION ALL SELECT pk, sk, 'zorder', f_z FROM b
      UNION ALL SELECT pk, sk, 'hilbert', _hd // {65536 // _LAY_NF}
        FROM {hfinal}
    ),
    files AS (
      SELECT layout, file_id, min(pk) AS minpk, max(pk) AS maxpk,
             min(sk) AS minsk, max(sk) AS maxsk, count(*) AS n
      FROM cells GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n) AS BIGINT) AS n_rows,
           ((sum(maxpk - minpk + 1) * 20000 + (_pkmax - _pkmin + 1))
             // (2 * (_pkmax - _pkmin + 1))) / 10000.0 AS exp_files_pk,
           ((sum(maxsk - minsk + 1) * 20000 + (_skmax - _skmin + 1))
             // (2 * (_skmax - _skmin + 1))) / 10000.0 AS exp_files_sk,
           ((sum((maxpk - minpk + 1) * (maxsk - minsk + 1)) * 20000
             + (_pkmax - _pkmin + 1) * (_skmax - _skmin + 1))
             // (2 * (_pkmax - _pkmin + 1) * (_skmax - _skmin + 1)))
             / 10000.0 AS exp_files_both
    FROM files, mm
    GROUP BY layout, _pkmin, _pkmax, _skmin, _skmax
    """


@query("layout_skipping_report", _layout_sql())
def layout_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantify how the WRITE layout governs scan pruning (the 100 TB
    lever: parquet footer min/max stats skip whole files only when the
    layout keeps per-file ranges tight). Simulates writing lineitem as
    32 files under four policies — hash-scatter, linear sort on
    l_partkey, a Morton z-order and a Hilbert-curve index of
    (l_partkey, l_suppkey), both via operators/layout.py — then
    reports, per layout, the expected number of files a point
    predicate touches on each dimension (``sum`` over files of the
    per-file key-span fraction) and on both at once. Hash ≈ all files
    on every dim; sort ≈ 1 file on partkey but all on suppkey;
    z-order/Hilbert ≈ sqrt(n_files) on each (Hilbert additionally
    guarantees consecutive index values are grid neighbors — no
    Morton seam jumps — so its file rectangles are more compact).
    File ids are VALUE-range buckets (pure integer arithmetic), not
    rank buckets — a narrow codegen map with zero windows; the only
    shuffles carry (layout, file_id) stat cells, never rows. The
    z-key expression string is generated once and parsed by BOTH
    engines, and the Hilbert per-level expressions come from the same
    generator on both sides, so the oracle cannot drift on either
    index. The real write path (repartitionByRange +
    sortWithinPartitions) and footer-stats manifest are exercised
    against actual parquet files in tests/test_layout.py."""
    # widen=True: the Hilbert chain is 8 materialized CASE levels per
    # row — compute-bound, so the scan must spread across cores (the
    # 3-partition sf0.1 file serialized it at ~5.5 s; widened ~1 s)
    li = _t(spark, sf_dir, "lineitem", widen=True).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    mm = li.agg(
        F.min("l_partkey").alias("_pkmin"),
        F.max("l_partkey").alias("_pkmax"),
        F.min("l_suppkey").alias("_skmin"),
        F.max("l_suppkey").alias("_skmax"),
    )
    bpk = LAY.bucket_expr(_LAY_PK, "_pkmin", "_pkmax", 256, "spark")
    bsk = LAY.bucket_expr(_LAY_SK, "_skmin", "_skmax", 256, "spark")
    f_sort = LAY.bucket_expr(_LAY_PK, "_pkmin", "_pkmax", _LAY_NF, "spark")
    zkey = LAY.interleave_expr(bpk, bsk)
    b = li.crossJoin(F.broadcast(mm)).select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        F.expr(bpk).alias("_bpk"),
        F.expr(bsk).alias("_bsk"),
        (
            T.int_base_hash(
                F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
            )
            % _LAY_NF
        ).alias("f_hash"),
        F.expr(f_sort).alias("f_sort"),
        F.expr(f"({zkey}) div {65536 // _LAY_NF}").alias("f_z"),
    )
    hil = LAY.hilbert_index(b, "_bpk", "_bsk").withColumn(
        "f_hil", F.expr(f"_hd div {65536 // _LAY_NF}")
    )
    cells = hil.selectExpr(
        "pk",
        "sk",
        "stack(4, 'hash', f_hash, 'sort', f_sort, 'zorder', f_z,"
        " 'hilbert', f_hil) AS (layout, file_id)",
    )
    files = cells.groupBy("layout", "file_id").agg(
        F.min("pk").alias("minpk"),
        F.max("pk").alias("maxpk"),
        F.min("sk").alias("minsk"),
        F.max("sk").alias("maxsk"),
        F.count(F.lit(1)).alias("n"),
    )
    # Exact-integer form (the decay-query lesson): spans are integers,
    # so sum them exactly and divide ONCE at the end, rounding on the
    # integer grid — never sum double fractions (accumulation order
    # differs across engines) and never round() a true decimal
    # midpoint (Spark half-up vs DuckDB half-even).
    return (
        files.crossJoin(F.broadcast(mm))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n").alias("n_rows"),
            (
                F.expr(
                    "(sum(maxpk - minpk + 1) * 20000"
                    " + (first(_pkmax) - first(_pkmin) + 1))"
                    " div (2 * (first(_pkmax) - first(_pkmin) + 1))"
                )
                / 10000.0
            ).alias("exp_files_pk"),
            (
                F.expr(
                    "(sum(maxsk - minsk + 1) * 20000"
                    " + (first(_skmax) - first(_skmin) + 1))"
                    " div (2 * (first(_skmax) - first(_skmin) + 1))"
                )
                / 10000.0
            ).alias("exp_files_sk"),
            (
                F.expr(
                    "(sum((maxpk - minpk + 1) * (maxsk - minsk + 1))"
                    " * 20000 + (first(_pkmax) - first(_pkmin) + 1)"
                    " * (first(_skmax) - first(_skmin) + 1))"
                    " div (2 * (first(_pkmax) - first(_pkmin) + 1)"
                    " * (first(_skmax) - first(_skmin) + 1))"
                )
                / 10000.0
            ).alias("exp_files_both"),
        )
    )


def _split_leakage_sql() -> str:
    return f"""
    WITH pairs AS ({_lsh_verified_oracle_sql()}),
    sp AS (
      SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || substring(md5(text), 1, 15))::BIGINT
                     % 2147483648 % 100 AS bucket
            FROM documents)
    ),
    lab AS (
      SELECT least(sa.split, sb.split) AS split_a,
             greatest(sa.split, sb.split) AS split_b,
             p.id_a, p.id_b, p.jaccard
      FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
                   JOIN sp sb ON sb.doc_id = p.id_b
    ),
    docs AS (
      SELECT split_a, split_b, count(DISTINCT id) AS n_docs
      FROM (SELECT split_a, split_b, id_a AS id FROM lab
            UNION ALL SELECT split_a, split_b, id_b FROM lab)
      GROUP BY 1, 2
    )
    SELECT a.split_a, a.split_b,
           CAST(a.n_pairs AS BIGINT) AS n_pairs,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           a.avg_jaccard,
           CASE WHEN a.split_a <> a.split_b THEN 1 ELSE 0 END AS is_leak
    FROM (SELECT split_a, split_b, count(*) AS n_pairs,
                 -- exact-integer mean: jaccard sits on a 1e-4 grid, so
                 -- sum it in e4 units and grid-round once (float avg()
                 -- accumulates in engine-specific order)
                 ((sum(CAST(round(jaccard * 10000) AS BIGINT)) * 2
                   + count(*)) // (2 * count(*))) / 10000.0
                   AS avg_jaccard
          FROM lab GROUP BY 1, 2) a
    JOIN docs d USING (split_a, split_b)
    """


@query("split_leakage_audit", _split_leakage_sql())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit — the QA gate that runs AFTER
    split assignment: near-duplicate pairs (MinHash-LSH candidates
    verified at Jaccard >= 0.5, the dedup_lsh_verified path) labeled
    with each member's deterministic hash split (train/val/test,
    80/10/10), grouped by the ordered label pair. Any ``is_leak = 1``
    row means an eval document has a near-duplicate in training —
    exactly the leakage a content-keyed split is supposed to prevent
    for EXACT duplicates but cannot for near-duplicates, which is why
    the audit exists. Scale shape: candidates come from the band
    bucket join (ids only), verification is candidate-pruned, split
    labels are a narrow map over the corpus, and the verified-pair
    set (small by construction: it survived LSH + Jaccard≥0.5)
    BROADCASTS into both label joins, so the corpus-side label frame
    never shuffles — without the hint, CollapseProject merges the
    split projection above the join and the id exchange ships RAW
    TEXT (caught by the plan test; the r6 paragraph-dedup lesson
    again). Within-split rows stay in the output as the context
    baseline."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, candidates=cand
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    sp = d.select(
        "doc_id",
        T.hash_split(
            "text", {"train": 80, "val": 90, "test": 100}
        ).alias("split"),
    )
    sa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("s_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("s_b")
    )
    lab = (
        F.broadcast(pairs)
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("s_a", "s_b").alias("split_a"),
            F.greatest("s_a", "s_b").alias("split_b"),
            "id_a",
            "id_b",
            "jaccard",
        )
    )
    agg = lab.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.expr(
                "(sum(CAST(round(jaccard * 10000) AS BIGINT)) * 2"
                " + count(1)) div (2 * count(1))"
            )
            / 10000.0
        ).alias("avg_jaccard"),
    )
    docs = (
        lab.selectExpr(
            "split_a", "split_b", "stack(2, id_a, id_b) AS (id)"
        )
        .groupBy("split_a", "split_b")
        .agg(F.countDistinct("id").alias("n_docs"))
    )
    return agg.join(docs, ["split_a", "split_b"]).select(
        "split_a",
        "split_b",
        "n_pairs",
        "n_docs",
        "avg_jaccard",
        F.when(F.col("split_a") != F.col("split_b"), 1)
        .otherwise(0)
        .alias("is_leak"),
    )


@query(
    "time_decay_user_scores",
    """
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events)
    SELECT user_id,
           ((sum(CAST(round(value * 100) AS BIGINT)
                 * (1024 >> least((d0 - CAST(ts AS DATE)) // 7, 16)))
             * 10000 + 51200) // 102400) / 10000.0 AS decayed_value,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
             AS raw_value,
           count(*) AS n_events
    FROM events, mx
    GROUP BY user_id
    """,
)
def time_decay_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay (half-life) scoring — the recency
    weighting every feature store / engagement ranker applies:
    ``value * 0.5^(age_weeks)`` summed per user, with a 7-day
    half-life anchored at the corpus max date (one metadata-cheap
    scalar agg, broadcast as a 1-row frame). Float parity by
    construction (the iterative-trainer quantization rule): never
    ``exp(-λΔt)`` (libm tail bits differ across engines), and never a
    float SUM (accumulation order differs across engines — the naive
    ``sum(value * 0.5^k)`` form diverged at the 4th decimal). Instead
    each term is an INTEGER — cents × the weight ``1024 >> weeks``
    (exact powers of two down to 2^-10; older than ~10 half-lives
    decays to exactly 0) — summed exactly, and the final 4-decimal
    rounding happens on the INTEGER grid (``(S*10^4 + half) intdiv
    scale``), because the exact sum can land on a true decimal
    midpoint where Spark rounds half-up and DuckDB half-even.
    Narrow map + one (user) shuffle; at 100 TB the anchor comes from
    partition metadata and nothing else changes."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("d0"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .withColumn("_cents", F.round(F.col("value") * 100).cast("long"))
        .withColumn(
            # shift CAPPED at 16: Java shift counts wrap mod 64
            # (shiftright(1024, 64) == 1024 in Spark!) while DuckDB
            # returns 0 past the bit width — uncapped, any event
            # older than 64 weeks resurrects at FULL weight on the
            # Spark side only. >=11 weeks is already exactly 0.
            "_w",
            F.expr(
                "shiftright(1024, least("
                "CAST(datediff(d0, to_date(ts)) AS INT) div 7, 16))"
            ).cast("long"),
        )
        .groupBy("user_id")
        .agg(
            (
                F.expr(
                    "(sum(_cents * _w) * 10000 + 51200) div 102400"
                )
                / 10000.0
            ).alias("decayed_value"),
            F.round(F.sum("_cents") / 100.0, 2).alias("raw_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "join_size_estimate",
    """
    WITH ha AS (
      SELECT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               ::BIGINT % 2147483648 % 1024 AS b, count(*) AS ca
      FROM orders GROUP BY 1
    ),
    hb AS (
      SELECT ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
               ::BIGINT % 2147483648 % 1024 AS b, count(*) AS cb
      FROM lineitem GROUP BY 1
    ),
    sides AS (
      SELECT (SELECT count(*) FROM orders) AS n_a,
             (SELECT count(*) FROM lineitem) AS n_b,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_a,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_b
    ),
    est AS (SELECT sum(ca * cb) AS est_hist FROM ha JOIN hb USING (b)),
    tru AS (
      SELECT count(*) AS true_rows
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
           CAST((n_a * n_b) // greatest(ndv_a, ndv_b) AS BIGINT)
             AS est_ndv_rows,
           CAST(est_hist AS BIGINT) AS est_hist_rows,
           CAST(true_rows AS BIGINT) AS true_rows,
           ((est_hist * 20000 + true_rows) // (2 * true_rows))
             / 10000.0 AS hist_over_factor
    FROM sides, est, tru
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation — the statistic a cost-based
    planner (and AQE's runtime re-plan) lives on, made inspectable:
    (a) the classic NDV formula ``|A|*|B| / max(ndv_A, ndv_B)`` and
    (b) a 1024-bucket hashed key histogram whose estimate is
    ``Σ_b cnt_A(b)*cnt_B(b)`` — exact when buckets are collision-free
    and a quantified OVERestimate otherwise (the reported
    ``hist_over_factor``; fk-pk joins with ndv >> buckets collide
    heavily, which is exactly why real planners size histograms to
    key cardinality). Everything is integer arithmetic on count
    cells: two per-side bucket aggs (map-side combined to ≤1024 rows
    each), one tiny bucket join, one true-count join for the audit.
    At 100 TB only the truth column is expensive — the estimates
    read nothing but sketch-sized state."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ha = o.groupBy(
        (T.int_base_hash(F.col("o_orderkey").cast("string")) % 1024).alias("b")
    ).agg(F.count(F.lit(1)).alias("ca"))
    hb = li.groupBy(
        (T.int_base_hash(F.col("l_orderkey").cast("string")) % 1024).alias("b")
    ).agg(F.count(F.lit(1)).alias("cb"))
    est = ha.join(hb, "b").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("est_hist")
    )
    sides = o.agg(
        F.count(F.lit(1)).alias("n_a"),
        F.countDistinct("o_orderkey").alias("ndv_a"),
    ).crossJoin(
        li.agg(
            F.count(F.lit(1)).alias("n_b"),
            F.countDistinct("l_orderkey").alias("ndv_b"),
        )
    )
    tru = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).alias("true_rows")
    )
    return (
        sides.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(tru))
        .select(
            "n_a",
            "n_b",
            "ndv_a",
            "ndv_b",
            F.expr("(n_a * n_b) div greatest(ndv_a, ndv_b)").alias(
                "est_ndv_rows"
            ),
            F.col("est_hist").alias("est_hist_rows"),
            "true_rows",
            (
                F.expr(
                    "(est_hist * 20000 + true_rows) div (2 * true_rows)"
                )
                / 10000.0
            ).alias("hist_over_factor"),
        )
    )


@query(
    "collapse_repeated_tokens",
    f"""
    WITH tok AS (SELECT source, {_TOKS_SQL} AS tk FROM documents),
    c AS (
      SELECT source, len(tk) AS n_in,
             len(list_filter(generate_series(1, len(tk)),
                 i -> i = 1 OR tk[i] <> tk[i-1])) AS n_out
      FROM tok
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_out < n_in THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_touched,
           CAST(sum(n_in) AS BIGINT) AS tokens_in,
           CAST(sum(n_out) AS BIGINT) AS tokens_out,
           round(1 - sum(n_out) * 1.0 / greatest(sum(n_in), 1), 6)
             AS stutter_rate
    FROM c GROUP BY source
    """,
)
def collapse_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stutter / generation-loop cleanup: collapse each run of
    consecutively repeated tokens to one occurrence
    (functions.text.collapse_token_runs — an index-aware array filter,
    row-local and codegen'd, no UDF) and audit per source how much of
    the token stream it removes. The ADJACENT-repeat grain is what
    global line dedup and Gopher repetition ratios cannot express:
    they see "the the the" and "the ... the ... the" identically,
    but only the former is a degenerate loop. Zero-shuffle except the
    final per-source stat cells; at 100 TB this runs inside the same
    narrow cleaning pass as markup strip / PII redaction."""
    d = _t(spark, sf_dir, "documents")
    n_in = F.size(T.tokens("text"))
    n_out = F.size(T.collapse_token_runs("text"))
    per = d.select(
        "source", n_in.alias("n_in"), n_out.alias("n_out")
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_out") < F.col("n_in"), 1).otherwise(0)
        ).alias("n_docs_touched"),
        F.sum("n_in").alias("tokens_in"),
        F.sum("n_out").alias("tokens_out"),
        F.round(
            1
            - F.sum("n_out")
            * 1.0
            / F.greatest(F.sum("n_in"), F.lit(1)),
            6,
        ).alias("stutter_rate"),
    )


def _split_inc_oracle_sql(num_hashes: int = 8, rows_per_band: int = 2,
                          min_agree: int = 4) -> str:
    """Oracle twin of incremental.split_assign_increment over an
    id-coin base/increment partition of the corpus: MinHash census
    probe (signature-agreement estimator on the integer grid),
    increment-internal closure (recursive CTE), (max agree, min id)
    election, inherited vs representative-coin splits — generated
    from the SAME permutation constants as the Spark plan."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|')"
        " AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for b in range(nbands)
    )
    agree = " + ".join(
        f"(CASE WHEN na.h{i} = ba.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    id_coin = (
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        " % 2147483648 % 5"
    )
    text_coin = (
        "(CASE WHEN ('0x' || substring(md5(d.text), 1, 15))::BIGINT"
        " % 2147483648 % 100 < 80 THEN 'train'"
        " WHEN ('0x' || substring(md5(d.text), 1, 15))::BIGINT"
        " % 2147483648 % 100 < 90 THEN 'val' ELSE 'test' END)"
    )
    return f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    half AS MATERIALIZED (
      SELECT doc_id, ({id_coin}) = 0 AS is_inc FROM documents
    ),
    bands AS MATERIALIZED ({band_rows}),
    probe AS (
      SELECT n.doc_id AS nid, b.doc_id AS bid
      FROM bands n
      JOIN half hn ON hn.doc_id = n.doc_id AND hn.is_inc
      JOIN bands b ON b.band = n.band AND b.band_sig = n.band_sig
      JOIN half hb ON hb.doc_id = b.doc_id AND NOT hb.is_inc
      GROUP BY 1, 2
    ),
    matches AS MATERIALIZED (
      SELECT * FROM (
        SELECT p.nid, p.bid, {agree} AS agree
        FROM probe p
        JOIN sigs na ON na.doc_id = p.nid
        JOIN sigs ba ON ba.doc_id = p.bid
      ) WHERE agree >= {min_agree}
    ),
    ipair0 AS (
      SELECT a.doc_id AS id_a, bb.doc_id AS id_b
      FROM bands a
      JOIN half ha ON ha.doc_id = a.doc_id AND ha.is_inc
      JOIN bands bb ON bb.band = a.band AND bb.band_sig = a.band_sig
        AND a.doc_id < bb.doc_id
      JOIN half hb2 ON hb2.doc_id = bb.doc_id AND hb2.is_inc
      GROUP BY 1, 2
    ),
    ipairs AS MATERIALIZED (
      SELECT * FROM (
        SELECT p.id_a, p.id_b, {agree} AS agree
        FROM ipair0 p
        JOIN sigs na ON na.doc_id = p.id_a
        JOIN sigs ba ON ba.doc_id = p.id_b
      ) WHERE agree >= {min_agree}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM ipairs
      UNION SELECT id_b, id_a FROM ipairs
    ),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS MATERIALIZED (
      SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    ),
    lab AS MATERIALIZED (
      SELECT h.doc_id, coalesce(c.component, h.doc_id) AS label
      FROM half h LEFT JOIN comp c ON c.doc_id = h.doc_id
      WHERE h.is_inc
    ),
    elect AS (
      SELECT label, bid FROM (
        SELECT l.label, m.bid,
               row_number() OVER (PARTITION BY l.label
                 ORDER BY m.agree DESC, m.bid) AS rk
        FROM matches m JOIN lab l ON l.doc_id = m.nid
      ) WHERE rk = 1
    ),
    inh AS (
      SELECT e.label, {text_coin} AS inh_split
      FROM elect e JOIN documents d ON d.doc_id = e.bid
    ),
    rep AS (
      SELECT l.label, {text_coin} AS rep_split
      FROM lab l JOIN documents d ON d.doc_id = l.label
      WHERE l.doc_id = l.label
    )
    SELECT l.doc_id,
           coalesce(i.inh_split, r.rep_split) AS split,
           (i.inh_split IS NOT NULL) AS inherited,
           (i.inh_split IS NOT NULL OR c.component IS NOT NULL) AS clustered
    FROM lab l
    LEFT JOIN inh i ON i.label = l.label
    LEFT JOIN rep r ON r.label = l.label
    LEFT JOIN comp c ON c.doc_id = l.doc_id
    """


@query("split_assign_increment", _split_inc_oracle_sql())
def split_assign_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cluster-consistent split
    (incremental.split_assign_increment): the ingest-gate treatment
    for what cluster_consistent_split does in batch. An id-coin fifth
    of the corpus plays the ARRIVING increment; the rest is the
    admitted corpus whose MinHash census (band rows + signatures, ~8
    longs/doc, never text) and per-doc splits are the only state
    probed. Increment docs inherit the split of the near-dup cluster
    they join (census bucket probe + integer signature-agreement
    estimator, component-grain (max agree, min id) election);
    brand-new increment-internal clusters share their
    representative's content-hash coin; singletons keep their own.
    Cost ∝ increment: the census side never shuffles (the increment's
    band rows broadcast onto it), the closure runs over
    increment-internal pairs only, and the splits table is probed by
    a broadcast of the elected matches. The oracle replays signatures,
    probe, estimator grid, recursive closure, election and both split
    coins from the same constants."""
    from cmsspark_spark.operators import incremental as I
    from cmsspark_spark.operators.incremental import _increment_minhash_bands

    d = _t(spark, sf_dir, "documents")
    coin5 = T.int_base_hash(F.col("doc_id").cast("string")) % 5
    base = d.filter(coin5 != 0)
    inc = d.filter(coin5 == 0)
    census = _increment_minhash_bands(base, 3, 8, 2, "doc_id", "text")
    splits = base.select(
        "doc_id",
        T.hash_split(
            "text", {"train": 80, "val": 90, "test": 100}
        ).alias("split"),
    )
    return I.split_assign_increment(inc, census, splits)


@query("bm25_blockmax_more_like_this", None)
def bm25_blockmax_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-k BM25 through BLOCK-MAX pruning
    (pipeline.bm25_blockmax_parts) — the finest rung of the pruned
    family (Ding & Suel's block-max WAND, batch form): max-score
    skips whole terms; this additionally skips POSTING BLOCKS of the
    essential terms using per-(term, doc-block) local maxima, so a
    common term whose few strong postings cluster in a few blocks
    contributes only those blocks' docs. Same integer micro-grid
    bounds, same seed threshold, same margin argument — and the same
    contract: the oracle IS the exact rung's oracle, assigned
    verbatim below.

    DEMONSTRATION RUNG (the standing weak-watch perf row): this
    in-session form rebuilds the full prune state — postings, term
    stats, block bounds, champions — from the corpus on every call,
    which is the dominant share of its wall time. The SCALE PATH is
    the persisted index: build once with retrieval.append_bm25_index
    and serve with bm25_index_serve(mode='blockmax')
    (`bm25_index_blockmax_serve`), which reads the maintained
    partials and costs a fraction of this query. Keep this rung for
    the algebra proof (hash-exact vs the exact oracle with zero
    persisted state), not for serving."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    ranked, _ = PL.bm25_blockmax_parts(
        d, query_max_id=5, k=10, block_size=64
    )
    return ranked


ORACLES["bm25_blockmax_more_like_this"] = ORACLES["bm25_more_like_this"]


@query(
    "bm25_rm3_expansion",
    f"""
    WITH tok AS (SELECT doc_id, {{toks}} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q AS (SELECT DISTINCT doc AS qid, t FROM post WHERE doc < 5),
    dfb1 AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT t FROM q) GROUP BY 1
    ),
    cand1 AS (
      SELECT q.qid, p.doc,
             ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n)))))
               AS sc
      FROM q JOIN post p USING (t) JOIN dfb1 d USING (t), stats s
      WHERE p.doc <> q.qid
    ),
    scored1 AS (SELECT qid, doc, sum(sc) AS score FROM cand1 GROUP BY 1, 2),
    fb AS (
      SELECT qid, doc
      FROM (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY round(score, 6) DESC, doc) AS r FROM scored1)
      WHERE r <= 5
    ),
    expw AS (
      SELECT f.qid, p.t, CAST(sum(p.tf) AS BIGINT) AS w
      FROM fb f JOIN post p ON p.doc = f.doc
      LEFT JOIN q ON q.qid = f.qid AND q.t = p.t
      WHERE q.t IS NULL
      GROUP BY 1, 2
    ),
    exp AS (
      SELECT qid, t
      FROM (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY w DESC, t) AS r FROM expw)
      WHERE r <= 5
    ),
    wq AS (
      SELECT qid, t, 7 AS qw FROM q
      UNION ALL
      SELECT qid, t, 3 AS qw FROM exp
    ),
    dfb2 AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT DISTINCT t FROM wq) GROUP BY 1
    ),
    cand2 AS (
      SELECT w.qid, p.doc,
             CAST(w.qw AS DOUBLE)
               * (ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
                  * ((p.tf * 2.2)
                     / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n))))))
               AS sc
      FROM wq w JOIN post p USING (t) JOIN dfb2 d USING (t), stats s
      WHERE p.doc <> w.qid
    ),
    scored2 AS (SELECT qid, doc, sum(sc) AS score FROM cand2 GROUP BY 1, 2)
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS rm3,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM scored2)
    WHERE rank <= 10
    """.replace("{{toks}}", _TOKS_SQL).replace("{toks}", _TOKS_SQL),
)
def bm25_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK retrieval (pipeline.
    bm25_rm3_more_like_this — the RM3 shape on the integer grid):
    round-1 exact BM25 elects each query's top-5 feedback docs, their
    term mass elects 5 expansion terms (query terms excluded, integer
    Σtf election), and round 2 rescores the corpus with the weighted
    query (original terms ×7, expansion ×3). The oracle states BOTH
    rounds in SQL — feedback selection, expansion election, weighted
    rescore — with identical literals and parenthesization, so the
    re-ranked top-10 must hash-match under the family's %.6f grid.
    One postings build feeds everything; expansion cost ∝ feedback
    docs' postings, never the corpus."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    return PL.bm25_rm3_more_like_this(d, query_max_id=5, k=10)


@query(
    "bm25_blockmax_pruning_report",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q AS (SELECT DISTINCT doc AS qid, t FROM post WHERE doc < 5),
    tp AS (
      SELECT p.t, p.doc, p.tf, p.dl,
             (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n))))
               AS tfp
      FROM post p, stats s
      WHERE p.t IN (SELECT t FROM q)
    ),
    tstat AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df, max(tfp) AS maxtf
      FROM tp GROUP BY 1
    ),
    ub AS (
      SELECT t, df,
             CAST(floor(ln(1.0 + ((s.n - df + 0.5) / (df + 0.5)))
                        * maxtf * 1000000.0) AS BIGINT) + 1 AS ubm
      FROM tstat, stats s
    ),
    champ AS (
      SELECT t, doc FROM (
        SELECT t, doc, row_number() OVER (PARTITION BY t
                 ORDER BY round(tfp, 6) DESC, doc) AS rk
        FROM tp
      ) WHERE rk <= 10
    ),
    seed AS (
      SELECT DISTINCT q.qid, c.doc FROM q JOIN champ c USING (t)
      WHERE c.doc <> q.qid
    ),
    seed_sc AS (
      SELECT seed.qid, seed.doc,
             sum(ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5))) * tp.tfp)
               AS score
      FROM seed
      JOIN tp ON tp.doc = seed.doc
      JOIN q ON q.qid = seed.qid AND q.t = tp.t
      JOIN tstat d ON d.t = tp.t, stats s
      GROUP BY 1, 2
    ),
    theta AS (
      SELECT qid, smicro AS theta FROM (
        SELECT qid, doc,
               CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS smicro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)
                   DESC, doc) AS rk
        FROM seed_sc
      ) WHERE rk = 10
    ),
    fl AS (
      SELECT q.qid, q.t, u.df, u.ubm, th.theta,
             sum(u.ubm) OVER (PARTITION BY q.qid ORDER BY u.ubm, q.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q JOIN ub u USING (t)
      LEFT JOIN theta th ON th.qid = q.qid
    ),
    fl2 AS (
      SELECT *, (theta IS NULL OR cum >= theta) AS essential FROM fl
    ),
    totals AS (SELECT qid, sum(ubm) AS total_ub FROM fl2 GROUP BY 1),
    bstat AS (
      SELECT t, doc // 64 AS blk, CAST(count(*) AS BIGINT) AS bdf,
             max(tfp) AS bmaxtf
      FROM tp GROUP BY 1, 2
    ),
    bub AS (
      SELECT b.t, b.blk, b.bdf,
             CAST(floor(ln(1.0 + ((s.n - u.df + 0.5) / (u.df + 0.5)))
                        * b.bmaxtf * 1000000.0) AS BIGINT) + 1 AS bubm
      FROM bstat b JOIN tstat u USING (t), stats s
    ),
    blocks AS (
      SELECT f.qid, f.t, bb.blk, bb.bdf,
             (f.theta IS NULL
              OR tt.total_ub - f.ubm + bb.bubm >= f.theta) AS survives
      FROM fl2 f
      JOIN bub bb USING (t)
      JOIN totals tt USING (qid)
      WHERE f.essential
    ),
    cand AS (
      SELECT b.qid, tp.doc FROM blocks b
      JOIN tp ON tp.t = b.t AND tp.doc // 64 = b.blk
      WHERE b.survives AND tp.doc <> b.qid
      UNION
      SELECT qid, doc FROM seed
    ),
    trep AS (
      SELECT qid,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(CASE WHEN essential THEN 1 ELSE 0 END) AS BIGINT)
               AS n_essential,
             CAST(sum(df) AS BIGINT) AS postings_total
      FROM fl2 GROUP BY 1
    ),
    brep AS (
      SELECT qid,
             CAST(count(*) AS BIGINT) AS blocks_total,
             CAST(sum(CASE WHEN survives THEN 0 ELSE 1 END) AS BIGINT)
               AS blocks_pruned,
             CAST(sum(CASE WHEN survives THEN bdf ELSE 0 END) AS BIGINT)
               AS postings_scanned
      FROM blocks GROUP BY 1
    ),
    nc AS (SELECT qid, CAST(count(DISTINCT doc) AS BIGINT)
             AS n_candidates FROM cand GROUP BY 1)
    SELECT t.qid AS query_id, n_terms, n_essential, blocks_total,
           blocks_pruned, postings_total, postings_scanned, n_candidates
    FROM trep t JOIN brep USING (qid) JOIN nc USING (qid)
    """,
)
def bm25_blockmax_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-grain pruning audit for block-max WAND: per query —
    terms, essential terms, blocks over essential terms and how many
    were skipped, posting mass actually scanned at BLOCK grain
    (strictly ≤ max-score's Σ df(essential)), candidates. The oracle
    replays the whole bound chain (seed θ, term bounds, per-block
    local maxima, survival inequality) on the shared integer micro
    grid."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    _, report = PL.bm25_blockmax_parts(
        d, query_max_id=5, k=10, block_size=64
    )
    return report


def _hard_negatives_oracle() -> str:
    """Composed from the exact BM25 oracle: rank-1 is the positive,
    ranks 2..k are hard negatives, margins on the integer micro grid."""
    assert ORACLES.get("bm25_more_like_this")
    return f"""
    WITH exact AS ({ORACLES["bm25_more_like_this"]}),
    pos AS (SELECT query_id, doc_id, bm25 FROM exact WHERE rank = 1)
    SELECT e.query_id,
           p.doc_id AS positive_id,
           e.doc_id AS negative_id,
           CAST(e.rank AS BIGINT) AS neg_rank,
           CAST(floor(p.bm25 * 1000000.0 + 0.5)
                - floor(e.bm25 * 1000000.0 + 0.5) AS BIGINT) AS margin_micro
    FROM exact e JOIN pos p USING (query_id)
    WHERE e.rank > 1
    """


@query("bm25_hard_negatives", None)
def bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive retrieval training — the
    standard DPR-style miner: for each query doc, the BM25 rank-1
    retrieval is the positive and ranks 2..k are hard negatives
    (lexically close, semantically wrong — exactly the examples a
    dual encoder learns most from), each with its score margin to the
    positive on the integer micro grid (never a float subtraction
    round). Pure composition of the registered exact rung — at scale
    swap in the max-score rung for identical output at pruned cost
    (proven identical by its own oracle). One broadcast join over
    top-k lists; driver-free."""
    ranked = QUERIES["bm25_more_like_this"](spark, sf_dir)
    micro = F.floor(F.col("bm25") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    pos = ranked.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("doc_id").alias("positive_id"),
        micro.alias("_pos_micro"),
    )
    return (
        ranked.filter(F.col("rank") > 1)
        .join(F.broadcast(pos), "query_id")
        .select(
            "query_id",
            "positive_id",
            F.col("doc_id").alias("negative_id"),
            F.col("rank").alias("neg_rank"),
            (F.col("_pos_micro") - micro).alias("margin_micro"),
        )
    )


ORACLES["bm25_hard_negatives"] = _hard_negatives_oracle()


def _rrf_hybrid_oracle() -> str:
    """Composed from the exact-BM25 and brute-force-cosine oracles —
    the fusion can never drift from the rungs it fuses. Reciprocal
    terms are CAST(1 AS DOUBLE)/(60+rank): double division in both
    engines (a bare 1.0 is DECIMAL in DuckDB), two-term sums are
    order-free."""
    assert ORACLES.get("bm25_more_like_this")
    assert ORACLES.get("ann_cosine_topk")
    return f"""
    WITH lex AS ({ORACLES["bm25_more_like_this"]}),
    sem AS ({ORACLES["ann_cosine_topk"]}),
    fused AS (
      SELECT coalesce(l.query_id, s.query_id) AS query_id,
             coalesce(l.doc_id, s.vec_id) AS doc_id,
             coalesce(CAST(1 AS DOUBLE) / (60 + l.rank), 0)
               + coalesce(CAST(1 AS DOUBLE) / (60 + s.rank), 0) AS rrf,
             (l.rank IS NOT NULL) AS in_lexical,
             (s.rank IS NOT NULL) AS in_semantic
      FROM lex l FULL OUTER JOIN sem s
        ON s.query_id = l.query_id AND s.vec_id = l.doc_id
    )
    SELECT query_id, doc_id, round(rrf, 6) AS rrf,
           in_lexical, in_semantic, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY round(rrf, 6) DESC, doc_id) AS rank FROM fused)
    WHERE rank <= 10
    """


@query("rrf_hybrid_topk", None)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval by reciprocal-rank fusion — the standard
    lexical+semantic combiner (RRF, Cormack/Clarke/Büttcher: score =
    Σ 1/(60+rank) over the lists that retrieved the doc): exact BM25
    top-10 fused with brute-force cosine top-5 over the aligned
    documents/embeddings id space. Rank-only fusion needs no score
    calibration between modalities — exactly why production hybrid
    search defaults to it — and both inputs here are the REGISTERED
    rungs (memoized top-k frames), so fusion is a tiny full-outer
    join + window; the oracle composes their registered oracles.
    At scale, swap the inputs for the max-score rung and a trained
    IVF arm — identical fusion plan over any two id-ranked lists."""
    lex = QUERIES["bm25_more_like_this"](spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("_lrank")
    )
    sem = QUERIES["ann_cosine_topk"](spark, sf_dir).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("_srank"),
    )
    rec = lambda c: F.lit(1.0) / (F.lit(60) + F.col(c))  # noqa: E731
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(rec("_lrank"), F.lit(0.0))
            + F.coalesce(rec("_srank"), F.lit(0.0))
        ).alias("_rrf"),
        F.col("_lrank").isNotNull().alias("in_lexical"),
        F.col("_srank").isNotNull().alias("in_semantic"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("_rrf", 6).desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.round("_rrf", 6).alias("rrf"),
            "in_lexical",
            "in_semantic",
            "rank",
        )
    )


ORACLES["rrf_hybrid_topk"] = _rrf_hybrid_oracle()


_WSIMHASH_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    dft AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY 1
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
    tw AS (
      SELECT t.doc_id,
             ('0x' || substring(md5(t.tok), 1, 15))::BIGINT AS th,
             CAST(floor(ln(1.0 + (nn.n / d.df)) * 1000000.0) AS BIGINT)
               + 1 AS w
      FROM tok t JOIN dft d USING (tok), nn
    ),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (th >> b.b) & 1 = 1 THEN w ELSE -w END) AS v
      FROM tw, (SELECT unnest(generate_series(0, 15)) AS b) b
      GROUP BY doc_id, b.b
    ),
    wsim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash_weighted",
    _WSIMHASH_SQL + "SELECT doc_id, simhash FROM wsim",
)
def dedup_simhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted SimHash fingerprints (dedup.simhash_weighted):
    Charikar's weighted form — each token occurrence votes ±idf
    (integer micro-units, floor(ln(1+N/df)·1e6)+1) on every bit, so
    rare vocabulary dominates the fingerprint and template filler
    cannot mask a near-dup. The oracle replays df counts, the micro
    weight, the weighted votes and the sign assembly in pure SQL —
    integer votes make the whole chain engine-exact."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash_weighted(d, "doc_id", "text", bits=16).withColumnRenamed(
        "_id", "doc_id"
    )


@query(
    "simhash_weighted_near_pairs",
    _WSIMHASH_SQL + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM wsim a JOIN wsim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def simhash_weighted_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the IDF-weighted fingerprints through the
    shared Hamming pigeonhole block join (never all-pairs; the oracle
    IS the brute-force xor/bit_count relation, which the block
    decomposition provably equals — same discipline as the image and
    audio rungs)."""
    d = _t(spark, sf_dir, "documents")
    s = D.simhash_weighted(d, "doc_id", "text", bits=16)
    return D.hamming_near_pairs(s, "_id", "simhash", bits=16, max_hamming=2)


def _minhash_star_oracle_sql(
    cap: int, num_hashes: int = 8, rows_per_band: int = 2
) -> str:
    """Oracle twin of ``minhash_lsh_pairs(hot_bucket_cap=cap)`` — the
    same signature/banding SQL as ``_minhash_oracle_sql`` plus the
    star reduction: per-(band, band_sig) bucket size and min id via
    windows, dense self-join only on buckets ≤ cap, member→min star
    edges on buckets > cap, set-union of both."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for b in range(nbands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    sized AS (
      SELECT doc_id, band, band_sig,
             count(*) OVER (PARTITION BY band, band_sig) AS m,
             min(doc_id) OVER (PARTITION BY band, band_sig) AS mn
      FROM bands
    ),
    dense AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sized a JOIN sized b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
      WHERE a.m <= {cap} AND b.m <= {cap}
    ),
    star AS (
      SELECT mn AS id_a, doc_id AS id_b
      FROM sized WHERE m > {cap} AND doc_id <> mn
    )
    SELECT DISTINCT id_a, id_b
    FROM (SELECT * FROM dense UNION ALL SELECT * FROM star)
    """


@query("dedup_lsh_star_capped", _minhash_star_oracle_sql(2))
def dedup_lsh_star_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with HOT-BUCKET OUTPUT-CARDINALITY CONTROL
    (r10, the named 100-TB risk): buckets over ``hot_bucket_cap``
    members are star-reduced to member→bucket-min edges — O(m) output
    where the dense self-join emits O(m²) — preserving the candidate
    graph's connected components exactly (every bucket member is a
    mutual candidate by the LSH definition, so the star keeps them
    connected through the min). cap=2 here so the sf0.01 corpus's
    3-member buckets genuinely exercise the star path; the oracle
    replays bucket sizing, the capped dense join and the star edges
    in windowed SQL. tests/test_properties.py proves a 1k-member hot
    bucket emits O(m) edges with identical components."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, "doc_id", "text", hot_bucket_cap=2)


def _lsh_bucket_report_oracle_sql(
    cap: int, num_hashes: int = 8, rows_per_band: int = 2
) -> str:
    """Oracle twin of ``minhash_lsh_bucket_report`` — signature/band
    CTEs shared with ``_minhash_oracle_sql``, then the two-level
    (bucket, band) census."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for b in range(nbands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    per_bucket AS (
      SELECT band, band_sig, CAST(count(*) AS BIGINT) AS m
      FROM bands GROUP BY band, band_sig
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(m) AS BIGINT) AS max_bucket_size,
           CAST(count(*) FILTER (WHERE m > {cap}) AS BIGINT)
             AS n_hot_buckets,
           CAST(coalesce(sum(m) FILTER (WHERE m > {cap}), 0) AS BIGINT)
             AS capped_members
    FROM per_bucket GROUP BY band ORDER BY band
    """


@query("lsh_hot_bucket_report", _lsh_bucket_report_oracle_sql(2))
def lsh_hot_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-truncation companion of dedup_lsh_star_capped:
    per-band bucket census (bucket count, max size, hot-bucket count
    and member total at the same cap=2) — what an operator reads to
    size the cap and audit exactly how many members the star
    reduction touched. Ids-only aggregation; no text past the
    signature step."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_bucket_report(
        d, "doc_id", "text", hot_bucket_cap=2
    )


_SIMHASH_CTE = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id,
             ('0x' || substring(md5(tok), 1, 15))::BIGINT AS th
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(generate_series(0, 15)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "simhash_star_near_pairs",
    _SIMHASH_CTE + """,
    sized AS (
      SELECT doc_id, simhash,
             count(*) OVER (PARTITION BY simhash) AS m,
             min(doc_id) OVER (PARTITION BY simhash) AS mn
      FROM sim
    ),
    keep AS (
      SELECT doc_id, simhash FROM sized WHERE m <= 4 OR doc_id = mn
    ),
    dense AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM keep a JOIN keep b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    ),
    star AS (
      SELECT mn AS id_a, doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
      FROM sized WHERE m > 4 AND doc_id <> mn
    )
    SELECT id_a, id_b, hamming FROM dense
    UNION ALL
    SELECT id_a, id_b, hamming FROM star
    """,
)
def simhash_star_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs with IDENTITY-GROUP star reduction (r10):
    groups of more than star_cap=4 identical fingerprints emit
    member→min star edges (hamming exactly 0) and only the group
    representative enters the pigeonhole block join — O(m) output per
    boilerplate cluster instead of O(m²), with cross-group pairs and
    components preserved exactly (identical fingerprints are
    interchangeable w.r.t. Hamming distance). The sf0.01 corpus has 8
    groups above the cap (max 14 members), so the star path is live
    in the official record; the oracle is the brute-force xor/
    bit_count relation over representatives plus the star edges."""
    d = _t(spark, sf_dir, "documents")
    s = D.simhash(d, "doc_id", "text", bits=16)
    return D.hamming_near_pairs(
        s, "_id", "simhash", bits=16, max_hamming=2, star_cap=4
    )


def _bpe_byte_doc_counts_cte(k: int) -> str:
    """Byte-level twin of ``_bpe_doc_counts_cte`` (r10): GPT-2-style
    regex pre-tokens (``BPE_BYTE_PRETOKEN_RE`` — identical leftmost-
    first semantics in Java regex, RE2 and Python re; leading spaces
    in-band, no '</w>' marker) whose symbols are the pre-token's UTF-8
    bytes as uppercase hex pairs (``hex(encode(w))`` — byte-exact in
    both engines). Training/encoding replay identically: k CTE triples
    of pair-counts → 1-row argmax → replace() over chr(31)-wrapped
    symbol strings, ending at ``dcnt`` (doc_id, source, n)."""
    from cmsspark_spark.operators.pipeline import BPE_BYTE_PRETOKEN_RE

    sep = "chr(31)"
    pat = BPE_BYTE_PRETOKEN_RE.replace("'", "''")
    parts = [
        "tok AS MATERIALIZED (SELECT doc_id, source,"
        f" unnest(regexp_extract_all(lower(text), '{pat}')) AS w"
        " FROM documents)",
        "wf AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok"
        " GROUP BY w)",
        f"w0 AS MATERIALIZED (SELECT w, n, {sep} || array_to_string("
        "regexp_extract_all(hex(encode(w)), '[0-9A-F]{2}'),"
        f" {sep}||{sep}) || {sep} AS s FROM wf)",
    ]
    for i in range(k):
        parts.append(
            f"p{i} AS (SELECT pr[1] AS l, pr[2] AS r,"
            " CAST(sum(n) AS BIGINT) AS cnt FROM (SELECT n,"
            " unnest([ [sy[j], sy[j+1]] for j in"
            " generate_series(1, len(sy)-1) ]) AS pr FROM"
            f" (SELECT n, string_split(s[2:len(s)-1], {sep}||{sep})"
            f" AS sy FROM w{i})) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT l, r FROM p{i}"
            " ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"w{i + 1} AS MATERIALIZED (SELECT w, n, replace(s,"
            f" {sep}||(SELECT l FROM m{i})||{sep}||{sep}||"
            f"(SELECT r FROM m{i})||{sep},"
            f" {sep}||(SELECT l||r FROM m{i})||{sep}) AS s FROM w{i})"
        )
    parts.append(
        f"wcnt AS (SELECT w, CAST((len(s) - len(replace(s, {sep}, '')))/2"
        f" AS BIGINT) AS c FROM w{k})"
    )
    parts.append(
        "dcnt AS (SELECT d.doc_id, d.source,"
        " CAST(coalesce(sum(wcnt.c), 0) AS BIGINT) AS n"
        " FROM documents d LEFT JOIN tok ON d.doc_id = tok.doc_id"
        " LEFT JOIN wcnt ON tok.w = wcnt.w GROUP BY d.doc_id, d.source)"
    )
    return ",\n    ".join(parts)


@query(
    "bpe_byte_token_stats",
    f"""
    WITH {_bpe_byte_doc_counts_cte(_BPE_K)}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_byte_bpe_tokens,
           round(quantile_cont(n, 0.50), 2) AS p50_bpe,
           round(quantile_cont(n, 0.90), 2) AS p90_bpe,
           round(quantile_cont(n, 0.99), 2) AS p99_bpe,
           CAST(max(n) AS BIGINT) AS max_bpe
    FROM dcnt GROUP BY source
    """,
)
def bpe_byte_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL BPE sequence-length profile (r10 — the production-
    tokenizer realism rung): train GPT-2-style byte BPE on the corpus
    (pipeline.bpe_merges_shared(alphabet='byte') — regex pre-tokens
    with spaces in-band, 256-symbol UTF-8 byte alphabet as hex pairs,
    memoized per session), encode every doc with the Arrow-batched
    narrow map, and profile per-source byte-BPE lengths — the same
    table shape as the char-grain bpe_length_profile_by_source, which
    is now parameterized over the tokenizer via the shared
    ``alphabet`` hook. Hash-exact against a DuckDB oracle replaying
    the byte-level train+encode in SQL (the proven unrolled-CTE
    machinery on the byte alphabet)."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    merges = PL.bpe_merges_shared(d, "text", k=_BPE_K, alphabet="byte")
    enc = PL.apply_bpe(d, merges, alphabet="byte").select(
        "source", F.size("bpe_tokens").cast("long").alias("n")
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_byte_bpe_tokens"),
        F.round(F.expr("percentile(n, 0.50D)"), 2).alias("p50_bpe"),
        F.round(F.expr("percentile(n, 0.90D)"), 2).alias("p90_bpe"),
        F.round(F.expr("percentile(n, 0.99D)"), 2).alias("p99_bpe"),
        F.max("n").alias("max_bpe"),
    )


_BLOOM_M_Q = 16384  # sidecar bits for the report
_BLOOM_HASH = (
    "('0x'||substring(md5({v} || '#{i}'),1,15))::BIGINT"
    " % 2147483648 % {m}"
)


@query(
    "bloom_skipping_report",
    f"""
    WITH d AS (
      SELECT md5(text) AS key FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT key,
             ('0x'||substring(md5(key || '#f'),1,15))::BIGINT
               % 2147483648 % 32 AS fid,
             {_BLOOM_HASH.format(v="key", i=0, m=_BLOOM_M_Q)} AS p0,
             {_BLOOM_HASH.format(v="key", i=1, m=_BLOOM_M_Q)} AS p1
      FROM d
    ),
    files AS (
      SELECT fid, min(key) AS mn, max(key) AS mx,
             list_distinct(flatten(list([p0, p1]))) AS bloom
      FROM f GROUP BY fid
    ),
    probes AS (
      SELECT md5(text) AS v, 'present' AS probe_class FROM documents
      WHERE text IS NOT NULL AND doc_id % 23 = 0
      UNION ALL
      SELECT md5(text || '#absent'), 'absent' FROM documents
      WHERE text IS NOT NULL AND doc_id % 23 = 0
    ),
    pp AS (
      SELECT v, probe_class,
             {_BLOOM_HASH.format(v="v", i=0, m=_BLOOM_M_Q)} AS q0,
             {_BLOOM_HASH.format(v="v", i=1, m=_BLOOM_M_Q)} AS q1
      FROM probes
    ),
    x AS (
      SELECT probe_class, v,
             CASE WHEN mn <= v AND mx >= v THEN 1 ELSE 0 END AS mm,
             CASE WHEN mn <= v AND mx >= v
                   AND list_contains(bloom, q0)
                   AND list_contains(bloom, q1)
                  THEN 1 ELSE 0 END AS bl
      FROM pp, files
    ),
    t AS (
      SELECT probe_class,
             CAST(count(DISTINCT f.fid || '/' || f.key) AS BIGINT)
               AS files_true_total
      FROM f JOIN probes ON probes.v = f.key GROUP BY 1
    )
    SELECT x.probe_class,
           CAST(count(DISTINCT x.v) AS BIGINT) AS n_probes,
           CAST(sum(mm) AS BIGINT) AS files_minmax_total,
           CAST(sum(bl) AS BIGINT) AS files_bloom_total,
           CAST(coalesce(any_value(t.files_true_total), 0) AS BIGINT)
             AS files_true_total
    FROM x LEFT JOIN t ON t.probe_class = x.probe_class
    GROUP BY x.probe_class
    """,
)
def bloom_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-GRAIN BLOOM SIDECAR skipping report (r10, VERDICT item 7)
    — why min/max stats can't prune point lookups on high-cardinality
    keys, and how much the Bloom sidecar recovers. The lookup key is
    the document content hash (md5(text) — the LFN/doc-fingerprint
    shape dedup and provenance lookups actually probe with): 32
    hash-scattered files, each file's [min, max] key range spans
    nearly the whole hex domain, so range stats keep ~every file for
    ~every probe; the per-file Bloom (layout.bloom_positions — k=2
    salted md5 31-bit hashes mod m, stored as set-bit positions like
    the real sidecar) keeps the true file for PRESENT keys (never a
    false negative) and ~none for ABSENT in-domain keys (md5 of a
    perturbed text — uniformly random inside the key domain, where
    min/max still prunes nothing). Probe side broadcasts onto the
    32-row file frame; the only corpus-sized work is the (file,
    position) distinct-set aggregation. The REAL sidecar write and
    maintenance paths (file_bloom_manifest, write_bloom_manifest,
    append_with_manifest(bloom_dim=...), pruned_files_bloom) are
    exercised against actual parquet files in tests/test_layout.py."""
    from cmsspark_spark.functions.text import int_base_hash

    m = _BLOOM_M_Q
    base = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = base.select(F.md5("text").alias("key"))
    fid = int_base_hash(F.concat(F.col("key"), F.lit("#f"))) % 32
    f = d.select(
        "key",
        fid.alias("fid"),
        LAY.bloom_positions("key", m=m).alias("_pos"),
    )
    files = (
        f.select("fid", "key", F.explode("_pos").alias("_p"))
        .groupBy("fid")
        .agg(
            F.min("key").alias("mn"),
            F.max("key").alias("mx"),
            F.collect_set("_p").alias("bloom"),
        )
    )
    sel = base.filter(F.col("doc_id") % 23 == 0)
    probes = sel.select(
        F.md5("text").alias("v"), F.lit("present").alias("probe_class")
    ).unionByName(
        sel.select(
            F.md5(F.concat(F.col("text"), F.lit("#absent"))).alias("v"),
            F.lit("absent").alias("probe_class"),
        )
    )
    pp = probes.withColumn("_q", LAY.bloom_positions("v", m=m))
    mm_keep = (F.col("mn") <= F.col("v")) & (F.col("mx") >= F.col("v"))
    bl_keep = mm_keep & F.forall(
        F.col("_q"), lambda q: F.array_contains(F.col("bloom"), q)
    )
    x = files.crossJoin(F.broadcast(pp)).select(
        "probe_class",
        "v",
        mm_keep.cast("long").alias("mm"),
        bl_keep.cast("long").alias("bl"),
    )
    truth = (
        f.select("fid", F.col("key").alias("v"))
        .join(F.broadcast(probes), "v")
        .groupBy("probe_class")
        .agg(
            F.countDistinct(
                F.concat_ws("/", F.col("fid"), F.col("v"))
            ).alias("files_true_total")
        )
    )
    return (
        x.groupBy("probe_class")
        .agg(
            F.countDistinct("v").alias("n_probes"),
            F.sum("mm").alias("files_minmax_total"),
            F.sum("bl").alias("files_bloom_total"),
        )
        .join(truth, "probe_class", "left")
        .select(
            "probe_class",
            "n_probes",
            "files_minmax_total",
            "files_bloom_total",
            F.coalesce("files_true_total", F.lit(0))
            .cast("long")
            .alias("files_true_total"),
        )
    )


@query(
    "bpe_byte_packing_efficiency",
    f"""
    WITH {_bpe_byte_doc_counts_cte(_BPE_K)},
    offs AS (
      SELECT doc_id, source, n AS doc_tokens,
             CAST(coalesce(sum(n) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
      FROM dcnt
    ),
    chunks AS (
      SELECT source,
             unnest(generate_series(s // 512, (s + doc_tokens - 1) // 512))
               AS chunk_id,
             doc_id, doc_tokens, s
      FROM offs WHERE doc_tokens > 0
    ),
    occ AS (
      SELECT source, chunk_id,
             CAST(sum(least(s + doc_tokens, (chunk_id + 1) * 512)
                      - greatest(s, chunk_id * 512)) AS BIGINT) AS fill
      FROM chunks GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE fill = 512) AS BIGINT)
             AS n_full_chunks,
           CAST(sum(fill) AS BIGINT) AS packed_tokens,
           round(sum(fill) * 1.0 / (count(*) * 512), 6) AS utilization
    FROM occ GROUP BY source
    """,
)
def bpe_byte_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA in BYTE-LEVEL tokenizer units (r10 — the packing
    twin of bpe_byte_token_stats, completing the tokenizer
    parameterization): the sharded concat packer budgeted by trained
    GPT-2-style byte-BPE token counts (concat_pack_chunks's ``merges``
    + ``bpe_alphabet='byte'`` hooks). Byte-level token counts run
    ~1.3-2× the char-grain ones on the same corpus (spaces and
    punctuation are in-band), so chunk counts and utilization differ
    materially from bpe_packing_efficiency — THIS is the table a
    byte-tokenizer trainer's data loader sees. Merges are memoized
    per session and shared with bpe_byte_token_stats; the oracle
    replays the byte train+encode and the parallel-cumsum packing in
    SQL."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    merges = PL.bpe_merges_shared(d, "text", k=_BPE_K, alphabet="byte")
    chunks = PL.concat_pack_chunks(
        d, ctx_len=512, partition_cols=["source"], merges=merges,
        bpe_alphabet="byte",
    )
    occ = chunks.groupBy("source", "chunk_id").agg(
        F.sum("tokens_in_chunk").alias("fill")
    )
    return occ.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("fill") == 512).cast("long")).alias("n_full_chunks"),
        F.sum("fill").alias("packed_tokens"),
        F.round(
            F.sum("fill") / (F.count(F.lit(1)) * 512), 6
        ).alias("utilization"),
    )


def _lsh_screened_oracle_sql(
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    min_agree: int = 4,
) -> str:
    """Oracle twin of the screened LSH→verify composition: the minhash
    CTEs (same permutation constants as the Spark plan) feed a
    signature-agreement screen, and the exact-Jaccard verifier runs
    only on pairs at or above the agreement floor."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + j}" for j in range(rows_per_band)),
        )
        for b in range(nbands)
    )
    agree = " + ".join(
        f"(sa.h{i} = sb.h{i})::INT" for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b, {agree} AS n_agree
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
                  JOIN sigs sb ON sb.doc_id = c.id_b
    ),
    screened AS (SELECT * FROM est WHERE n_agree >= {min_agree}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT s.id_a, s.id_b, count(*) AS nc
      FROM screened s JOIN sh a ON a.doc_id = s.id_a
                      JOIN sh b ON b.doc_id = s.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, CAST(s.n_agree AS INT) AS n_agree,
           round(nc / (sa.n + sb.n - nc), 4) AS jaccard
    FROM common c JOIN screened s ON s.id_a = c.id_a AND s.id_b = c.id_b
                  JOIN sizes sa ON sa.doc_id = c.id_a
                  JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE nc / (sa.n + sb.n - nc) >= {threshold}
    """


@query("dedup_lsh_screened_verified", _lsh_screened_oracle_sql())
def dedup_lsh_screened_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The screened verify rung (r10, builder item #2): LSH candidates
    are ESTIMATED first from the wide MinHash signatures the candidate
    rung already computed (n_agree/k, two ids-only joins — no text),
    and the exact shingle-join verifier runs only on pairs at or above
    the agreement floor (4 of 8 ≈ the 0.5 threshold). The honest
    train+serve cost of the r10 sweep is dominated by shingling every
    candidate member; screening shrinks that member set, and docs
    whose every pair screens out are never tokenized. Explicitly a
    recall trade (a true pair can sample below the floor) — calibrate
    with lsh_screen_quality_report; surviving pairs carry the
    identical exact jaccard as dedup_lsh_verified."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    pairs = D.jaccard_pairs_screened(
        d, "doc_id", "text", candidates=cand,
        n=3, threshold=0.5, num_hashes=8, min_agree=4,
    )
    return pairs.select(
        "id_a", "id_b", "n_agree", F.round("jaccard", 4).alias("jaccard")
    )


def _lsh_screen_report_oracle_sql(
    num_hashes: int = 8, rows_per_band: int = 2, threshold: float = 0.5
) -> str:
    """Oracle twin of the screen-calibration report: every LSH
    candidate is exact-verified (audit scale), then tabulated per
    agreement level with cumulative recall/precision per floor."""
    from cmsspark_spark.operators.dedup import MINHASH_PRIME, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * b + {b_}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b_) in enumerate(params)
    )
    nbands = num_hashes // rows_per_band
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, array_to_string(list_sort([{cols}]), '|') AS band_sig FROM sigs".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + j}" for j in range(rows_per_band)),
        )
        for b in range(nbands)
    )
    agree = " + ".join(
        f"(sa.h{i} = sb.h{i})::INT" for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
    based AS (
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 2147483648 AS b
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, {mins}
      FROM based GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b, {agree} AS n_agree
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
                  JOIN sigs sb ON sb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS nc
      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT e.id_a, e.id_b, e.n_agree,
             coalesce(nc / (sa.n + sb.n - nc), 0) AS j
      FROM est e LEFT JOIN common c
                   ON c.id_a = e.id_a AND c.id_b = e.id_b
                 JOIN sizes sa ON sa.doc_id = e.id_a
                 JOIN sizes sb ON sb.doc_id = e.id_b
    ),
    lvl AS (
      SELECT n_agree, count(*) AS n_pairs,
             sum(CASE WHEN j >= {threshold} THEN 1 ELSE 0 END) AS n_true
      FROM jac GROUP BY 1
    )
    SELECT CAST(n_agree AS INT) AS n_agree,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_true AS BIGINT) AS n_true_dups,
           CAST(sum(n_pairs) OVER w AS BIGINT) AS n_kept_at_floor,
           round(sum(n_true) OVER w
                 / greatest(sum(n_true) OVER (), 1), 4) AS recall_at_floor,
           round(sum(n_true) OVER w
                 / sum(n_pairs) OVER w, 4) AS precision_at_floor
    FROM lvl
    WINDOW w AS (ORDER BY n_agree DESC)
    """


@query("lsh_screen_quality_report", _lsh_screen_report_oracle_sql())
def lsh_screen_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the signature screen (r10): every LSH
    candidate pair is EXACT-verified (audit scale — the same
    audit-the-approximation-inside-the-engine discipline as
    dedup_lsh_quality_report), then bucketed by MinHash agreement
    level. Each row answers 'what does floor=n_agree cost': cumulative
    kept pairs, recall of true dups (exact jaccard >= 0.5) and
    precision, read top-down. The cumulative window orders <= k+1
    grouped rows — one-task by construction, never data-sized."""
    d = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    wide = D.minhash_signatures_wide(d, "doc_id", "text", 3, 8)
    est = D.signature_agreement(cand, wide, 8)
    ver = D.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.0, candidates=cand
    )
    jac = est.join(
        ver.select("id_a", "id_b", "jaccard"), ["id_a", "id_b"], "left"
    ).select("n_agree", F.coalesce("jaccard", F.lit(0.0)).alias("j"))
    lvl = jac.groupBy("n_agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("j") >= 0.5).cast("long")).alias("n_true"),
    )
    w = Window.orderBy(F.desc("n_agree"))
    tot = Window.partitionBy()
    return lvl.select(
        F.col("n_agree").cast("int").alias("n_agree"),
        F.col("n_pairs").alias("n_pairs"),
        F.col("n_true").alias("n_true_dups"),
        F.sum("n_pairs").over(w).alias("n_kept_at_floor"),
        F.round(
            F.sum("n_true").over(w)
            / F.greatest(F.sum("n_true").over(tot), F.lit(1)),
            4,
        ).alias("recall_at_floor"),
        F.round(
            F.sum("n_true").over(w) / F.sum("n_pairs").over(w), 4
        ).alias("precision_at_floor"),
    )


@query(
    "rowgroup_bloom_skipping_report",
    f"""
    WITH mxx AS (
      SELECT max(doc_id) + 1 AS mx FROM documents WHERE text IS NOT NULL
    ),
    d0 AS (
      SELECT md5(text) AS key,
             CAST((doc_id * 8) // mx AS INT) AS fid,
             CAST((doc_id * 32) // mx AS INT) AS gid
      FROM documents, mxx WHERE text IS NOT NULL
    ),
    d AS (
      SELECT key, fid, gid,
             {_BLOOM_HASH.format(v="key", i=0, m=_BLOOM_M_Q)} AS p0,
             {_BLOOM_HASH.format(v="key", i=1, m=_BLOOM_M_Q)} AS p1
      FROM d0
    ),
    rgs AS (
      SELECT fid, gid, min(key) AS mn, max(key) AS mxk,
             list_distinct(flatten(list([p0, p1]))) AS bloom
      FROM d GROUP BY fid, gid
    ),
    files AS (
      SELECT fid, count(DISTINCT gid) AS n_rgs,
             min(key) AS mn, max(key) AS mxk,
             list_distinct(flatten(list([p0, p1]))) AS bloom
      FROM d GROUP BY fid
    ),
    probes AS (
      SELECT md5(text) AS v, 'present' AS probe_class FROM documents
      WHERE text IS NOT NULL AND doc_id % 23 = 0
      UNION ALL
      SELECT md5(text || '#absent'), 'absent' FROM documents
      WHERE text IS NOT NULL AND doc_id % 23 = 0
    ),
    pp AS (
      SELECT v, probe_class,
             {_BLOOM_HASH.format(v="v", i=0, m=_BLOOM_M_Q)} AS q0,
             {_BLOOM_HASH.format(v="v", i=1, m=_BLOOM_M_Q)} AS q1
      FROM probes
    ),
    x AS (
      SELECT probe_class, v,
             CASE WHEN mn <= v AND v <= mxk THEN 1 ELSE 0 END AS mm,
             CASE WHEN mn <= v AND v <= mxk
                   AND list_contains(bloom, q0)
                   AND list_contains(bloom, q1)
                  THEN 1 ELSE 0 END AS bl
      FROM pp, rgs
    ),
    xf AS (
      SELECT probe_class, v,
             CASE WHEN mn <= v AND v <= mxk
                   AND list_contains(bloom, q0)
                   AND list_contains(bloom, q1)
                  THEN n_rgs ELSE 0 END AS frg
      FROM pp, files
    ),
    t AS (
      SELECT probe_class,
             CAST(count(DISTINCT d.gid || '/' || d.key) AS BIGINT)
               AS rgs_true_total
      FROM d JOIN probes ON probes.v = d.key GROUP BY 1
    ),
    ag AS (
      SELECT probe_class,
             CAST(count(DISTINCT v) AS BIGINT) AS n_probes,
             CAST(sum(mm) AS BIGINT) AS rgs_minmax_total,
             CAST(sum(bl) AS BIGINT) AS rgs_bloom_total
      FROM x GROUP BY 1
    ),
    agf AS (
      SELECT probe_class,
             CAST(sum(frg) AS BIGINT) AS rgs_file_bloom_total
      FROM xf GROUP BY 1
    )
    SELECT ag.probe_class, n_probes, rgs_minmax_total,
           rgs_file_bloom_total, rgs_bloom_total,
           CAST(coalesce(t.rgs_true_total, 0) AS BIGINT) AS rgs_true_total
    FROM ag JOIN agf ON agf.probe_class = ag.probe_class
            LEFT JOIN t ON t.probe_class = ag.probe_class
    """,
)
def rowgroup_bloom_skipping_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW-GROUP-grain Bloom skipping report (r10, builder item #1 —
    grain symmetry): the file-grain report proved min/max can't prune
    point lookups on a high-cardinality key; this one proves WHERE
    the Bloom should live. Simulated clustered table (8 files x 4 row
    groups assigned by integer doc_id range — the layout a clustered
    write produces), probed by content-hash keys: row-group min/max on
    the key keeps ~every row group; a FILE-grain Bloom narrows to the
    right file but the reader still visits all its row groups; the
    ROW-GROUP Bloom narrows to the true row group — visits measured
    in row groups, the unit of parquet I/O. File/rg assignment is
    pure integer DIV arithmetic off a broadcast max (no global
    window); probes broadcast onto the 32-row rg frame; the only
    corpus-sized work is the position-set aggregation. The REAL
    sidecar (rowgroup_bloom_manifest via _metadata.row_index + footer
    offsets, write/append maintenance, pruned_rowgroups_bloom) is
    exercised against actual multi-row-group parquet in
    tests/test_layout.py."""
    from cmsspark_spark.operators import layout as LAY

    m = _BLOOM_M_Q
    base = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    mxx = base.agg((F.max("doc_id") + 1).alias("_mx"))
    d = (
        base.crossJoin(F.broadcast(mxx))
        .select(
            F.md5("text").alias("key"),
            F.expr("CAST(doc_id * 8 DIV _mx AS INT)").alias("fid"),
            F.expr("CAST(doc_id * 32 DIV _mx AS INT)").alias("gid"),
        )
        .withColumn("_pos", LAY.bloom_positions("key", m=m))
    )
    pos = d.select("fid", "gid", "key", F.explode("_pos").alias("_p"))
    rgs = pos.groupBy("fid", "gid").agg(
        F.min("key").alias("mn"),
        F.max("key").alias("mxk"),
        F.collect_set("_p").alias("bloom"),
    )
    files = pos.groupBy("fid").agg(
        F.countDistinct("gid").alias("n_rgs"),
        F.min("key").alias("mn"),
        F.max("key").alias("mxk"),
        F.collect_set("_p").alias("bloom"),
    )
    sel = base.filter(F.col("doc_id") % 23 == 0)
    probes = sel.select(
        F.md5("text").alias("v"), F.lit("present").alias("probe_class")
    ).unionByName(
        sel.select(
            F.md5(F.concat(F.col("text"), F.lit("#absent"))).alias("v"),
            F.lit("absent").alias("probe_class"),
        )
    )
    pp = probes.withColumn("_q", LAY.bloom_positions("v", m=m))
    covers = (F.col("mn") <= F.col("v")) & (F.col("v") <= F.col("mxk"))
    hits = F.forall(
        F.col("_q"), lambda q: F.array_contains(F.col("bloom"), q)
    )
    x = rgs.crossJoin(F.broadcast(pp)).select(
        "probe_class",
        "v",
        covers.cast("long").alias("mm"),
        (covers & hits).cast("long").alias("bl"),
    )
    xf = files.crossJoin(F.broadcast(pp)).select(
        "probe_class",
        "v",
        F.when(covers & hits, F.col("n_rgs")).otherwise(0).alias("frg"),
    )
    truth = (
        d.select("gid", F.col("key").alias("v"))
        .join(F.broadcast(probes), "v")
        .groupBy("probe_class")
        .agg(
            F.countDistinct(
                F.concat_ws("/", F.col("gid"), F.col("v"))
            ).alias("rgs_true_total")
        )
    )
    ag = x.groupBy("probe_class").agg(
        F.countDistinct("v").alias("n_probes"),
        F.sum("mm").alias("rgs_minmax_total"),
        F.sum("bl").alias("rgs_bloom_total"),
    )
    agf = xf.groupBy("probe_class").agg(
        F.sum("frg").alias("rgs_file_bloom_total")
    )
    return (
        ag.join(agf, "probe_class")
        .join(truth, "probe_class", "left")
        .select(
            "probe_class",
            "n_probes",
            "rgs_minmax_total",
            "rgs_file_bloom_total",
            "rgs_bloom_total",
            F.coalesce("rgs_true_total", F.lit(0))
            .cast("long")
            .alias("rgs_true_total"),
        )
    )


@query(
    "bm25_ranking_quality",
    f"""
    WITH mlt AS ({ORACLES["bm25_more_like_this"]}),
    qsrc AS (
      SELECT doc_id AS query_id, source AS qsource
      FROM documents WHERE doc_id < 5
    ),
    rel AS (
      SELECT m.query_id, m.rank,
             CASE WHEN d.source = q.qsource THEN 1 ELSE 0 END AS r
      FROM mlt m JOIN documents d ON d.doc_id = m.doc_id
                 JOIN qsrc q ON q.query_id = m.query_id
    ),
    rtot AS (
      SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_rel_corpus
      FROM qsrc q JOIN documents d
        ON d.source = q.qsource AND d.doc_id <> q.query_id
      GROUP BY 1
    ),
    agg AS (
      SELECT query_id,
             CAST(sum(r) AS BIGINT) AS n_rel_at_10,
             list_reduce(
               list_prepend(0.0, list(r / log2(rank + 1.0) ORDER BY rank)),
               (acc, x) -> acc + x) AS dcg,
             min(CASE WHEN r = 1 THEN rank END) AS fr
      FROM rel GROUP BY 1
    )
    SELECT a.query_id, t.n_rel_corpus, a.n_rel_at_10,
           round(a.n_rel_at_10 / 10.0, 6) AS prec_10,
           round(coalesce(1.0 / a.fr, 0.0), 6) AS mrr_10,
           round(CASE WHEN t.n_rel_corpus = 0 THEN 0.0
             ELSE a.dcg / list_reduce(
               list_prepend(0.0,
                 [1.0 / log2(i + 1.0)
                  for i in generate_series(1, CAST(least(t.n_rel_corpus, 10) AS INT))]),
               (acc, x) -> acc + x) END, 6) AS ndcg_10
    FROM agg a JOIN rtot t ON t.query_id = a.query_id
    """,
)
def bm25_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-evaluation capstone for the retrieval family (r10): nDCG@10,
    MRR@10 and precision@10 of the exact BM25 more-like-this ranking
    against a deterministic relevance oracle (a retrieved doc is
    relevant iff it shares the query doc's source — the same weak
    label the quality classifier trains on, so the whole eval is
    self-contained). The oracle SQL is COMPOSED from the registered
    bm25_more_like_this oracle verbatim, so the ranking being
    evaluated can never drift from the ranking the driver gates.
    Float discipline: DCG and ideal-DCG are LEFT-ASSOCIATIVE folds
    over rank-ordered contribution arrays with a 0.0 seed on both
    engines (the PQ-ADC sum pattern) — never an unordered SUM of
    doubles. All joins are broadcast-sized (5 query rows); the only
    corpus-scale work is inherited from the composed retrieval."""
    from cmsspark_spark.operators import pipeline as PL

    d = _t(spark, sf_dir, "documents")
    mlt = PL.bm25_more_like_this(d, query_max_id=5, k=10)
    src = d.select("doc_id", "source")
    qsrc = src.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("source").alias("qsource")
    )
    rel = (
        mlt.join(src, "doc_id")
        .join(F.broadcast(qsrc), "query_id")
        .select(
            "query_id",
            "rank",
            # when/otherwise like the oracle's CASE: a NULL source must
            # grade 0, not NULL (a raw boolean cast would null the
            # whole DCG fold and diverge from the oracle)
            F.when(F.col("source") == F.col("qsource"), 1)
            .otherwise(0)
            .alias("r"),
        )
    )
    rtot = (
        F.broadcast(qsrc)
        .join(src, F.col("source") == F.col("qsource"))
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel_corpus"))
    )
    contrib = F.struct(
        F.col("rank").alias("rank"),
        (F.col("r") / F.log2(F.col("rank") + 1.0)).alias("c"),
    )
    agg = rel.groupBy("query_id").agg(
        F.sum("r").alias("n_rel_at_10"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(contrib)), lambda s: s["c"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dcg"),
        F.min(F.when(F.col("r") == 1, F.col("rank"))).alias("fr"),
    )
    ideal = F.aggregate(
        F.transform(
            F.sequence(
                F.lit(1), F.least("n_rel_corpus", F.lit(10)).cast("int")
            ),
            lambda i: 1.0 / F.log2(i + 1.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return agg.join(rtot, "query_id").select(
        "query_id",
        "n_rel_corpus",
        "n_rel_at_10",
        F.round(F.col("n_rel_at_10") / 10.0, 6).alias("prec_10"),
        F.round(F.coalesce(1.0 / F.col("fr"), F.lit(0.0)), 6).alias("mrr_10"),
        F.round(
            F.when(F.col("n_rel_corpus") == 0, 0.0).otherwise(
                F.col("dcg") / ideal
            ),
            6,
        ).alias("ndcg_10"),
    )


#: Session-scoped persisted-index scratch dirs (see _bm25_index_dir):
#: kept alive for the session so every registry entry re-SERVES from
#: the shared on-disk index, cleaned at interpreter exit.
_INDEX_SCRATCH_DIRS: list[str] = []
_INDEX_DIR_MEMO = SessionMemo("bm25_index_dirs")


def _bm25_index_dir(d: DataFrame, tag: str, build) -> str:
    """Memoized scratch-index PATH for corpus ``d`` — on-disk INDEX
    STATE, the train-once/serve-many contract. The r12-era pattern
    memoized the eagerly-checkpointed SERVE OUTPUTS and deleted the
    index — result caching by the r13 policy line (VERDICT r13
    item 1), retired: now only the index build is shared and each
    query recomputes its serve. A corpus that is not fingerprintable
    gets a fresh, unmemoized scratch index per call; every scratch
    dir is removed at interpreter exit."""

    def make() -> str:
        import atexit
        import shutil
        import tempfile

        if not _INDEX_SCRATCH_DIRS:
            atexit.register(
                lambda: [
                    shutil.rmtree(p, ignore_errors=True)
                    for p in _INDEX_SCRATCH_DIRS
                ]
            )
        tmp = tempfile.mkdtemp(prefix=f"bm25_{tag}_")
        _INDEX_SCRATCH_DIRS.append(tmp)
        idx = f"{tmp}/idx"
        build(idx)
        return idx

    return _INDEX_DIR_MEMO.get_or(
        d.sparkSession, _INDEX_DIR_MEMO.key_for(d, tag), make
    )


def _bm25_index_shared(d: DataFrame) -> tuple:
    """Build the persisted BM25 index in a session scratch dir via TWO
    appends (base corpus, then increment) and serve all three modes.
    The index PATH is memoized per session (_bm25_index_dir — on-disk
    index state); the serves recompute per call."""
    from cmsspark_spark.operators import retrieval as R

    spark = d.sparkSession

    def _append(idx: str) -> None:
        R.append_bm25_index(d.filter(F.col("doc_id") % 4 != 3), idx)
        R.append_bm25_index(d.filter(F.col("doc_id") % 4 == 3), idx)

    def _serves(idx: str) -> tuple:
        return (
            R.bm25_index_serve(spark, idx, mode="exact"),
            R.bm25_index_serve(spark, idx, mode="maxscore"),
            R.bm25_index_serve(spark, idx, mode="blockmax"),
        )

    return _serves(_bm25_index_dir(d, "index_incr", _append))


@query(
    "bm25_index_incremental_serve",
    ORACLES["bm25_more_like_this"],
)
def bm25_index_incremental_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally-maintained retrieval state, exact serve (VERDICT
    r10 item 2; operators/retrieval.py): the corpus is committed to a
    persisted BM25 index in TWO appends (doc_id % 4 != 3, then the
    rest), each append writing only increment-derived rows (postings,
    per-term stat partials, champion partials, a globals row — a
    monoid under disjoint-doc union, so nothing existing is read or
    rewritten). The serve then ranks top-10 more-like-this for docs
    0-4 straight off the persisted postings — hash-exact against the
    SAME DuckDB oracle as bm25_more_like_this, proving
    append-then-serve ≡ full rebuild. Scale: append tokenizes only
    its increment; serve pushes the doc/term predicates into the
    postings scan and broadcasts query terms + df table, text never
    stored or shuffled."""
    d = _t(spark, sf_dir, "documents")
    return _bm25_index_shared(d)[0]


@query(
    "bm25_index_maxscore_serve",
    ORACLES["bm25_more_like_this"],
)
def bm25_index_maxscore_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Max-score serve off the incrementally-built index: champions
    (a per-term top-c monoid re-cut over per-commit partials —
    identical to a full-corpus cut) seed θ, the merged per-term
    (df, max_tf, min_dl) stats yield admissible integer upper bounds
    under the CURRENT avgdl, and only essential-term postings ∪ seeds
    are exact-scored. Hash-exact against the exact rung's oracle —
    the pruning bounds are maintained per append (only increment
    terms get new partial rows) yet the serve stays exact, which is
    the whole point of the train-once/serve-increment discipline."""
    d = _t(spark, sf_dir, "documents")
    return _bm25_index_shared(d)[1]


@query(
    "cdc_aggregate_maintenance",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderkey % 3 <= 1
    GROUP BY o_orderstatus
    """,
)
def cdc_aggregate_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained downstream aggregate (VERDICT r10 item 8;
    operators/snapshots.py maintain_snapshot_agg): a snapshot table
    accumulates a four-version history — three appends of disjoint
    order thirds, then a ROLLBACK that drops the last third — while a
    groupBy materialization (orderstatus → row count, total-price
    cents) is refreshed after every commit. Each refresh consumes
    only the file-grain signed CDC between the state's recorded
    version and the target (+1 rows of added files, -1 rows of
    rolled-off files — cost ∝ changed files, never table size) and
    folds it into the stored groups; the measure is integer cents so
    the signed fold is exact. The returned final state must equal a
    direct aggregate over the live content (orders with key % 3 in
    (0, 1)) — which is precisely what the oracle computes from
    scratch, so a hash match IS the maintenance-equals-recompute
    proof."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="cdc_agg_")
    try:
        table = f"{tmp}/orders_snap"
        state = f"{tmp}/agg_state"
        for part in range(3):
            SN.snapshot_write(
                orders.filter(F.col("o_orderkey") % 3 == part), table,
                mode="append",
            )
            SN.maintain_snapshot_agg(
                spark, table, state, ["o_orderstatus"], ["cents"]
            )
        SN.rollback_snapshot(spark, table, 2)
        out = SN.maintain_snapshot_agg(
            spark, table, state, ["o_orderstatus"], ["cents"]
        )
        return out.select(
            "o_orderstatus", "n_rows", "sum_cents"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "bm25_index_blockmax_serve",
    ORACLES["bm25_more_like_this"],
)
def bm25_index_blockmax_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-max serve off the incrementally-built index: the
    maintained per-(term, doc-block) (df, max_tf, min_dl) partials —
    the same monoid as the term stats, one level down, so each append
    extends only the blocks it touches — merge at serve into
    admissible block bounds under the current avgdl, and essential
    terms skip whole doc blocks whose bound cannot lift a candidate
    past θ (pipeline.bm25_blockmax_parts's survival rule verbatim).
    Hash-exact against the exact rung's oracle: the finest pruning
    rung of the persisted index, still train-once/serve-increment."""
    d = _t(spark, sf_dir, "documents")
    return _bm25_index_shared(d)[2]


@query(
    "bm25_index_tombstone_serve",
    ORACLES["bm25_more_like_this"].replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 3)",
    ),
)
def bm25_index_tombstone_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETES for the persisted index (retrieval.tombstone_bm25_index):
    the full corpus is indexed, then every doc_id % 7 == 3 doc is
    tombstoned — candidates anti-join the tombstones and N / sum_dl /
    per-term df are corrected from the dead docs' own postings (cost
    ∝ tombstones), while pruning bounds keep the raw extremes
    (loosened, still admissible). Served in BLOCK-MAX mode — the
    deepest pruning path, exercising every tombstone adjustment — and
    hash-exact against the exact oracle computed over only the LIVE
    documents. This is what lets the snapshot-consume path handle
    overwrites/rollbacks (allow_removals=True) without un-indexing."""
    from cmsspark_spark.operators import retrieval as R

    d = _t(spark, sf_dir, "documents")

    def _append(idx: str) -> None:
        R.append_bm25_index(d, idx)
        R.tombstone_bm25_index(
            d.filter(F.col("doc_id") % 7 == 3).select("doc_id"), idx
        )

    idx = _bm25_index_dir(d, "index_tomb", _append)
    return R.bm25_index_serve(spark, idx, mode="blockmax")


@query(
    "cdc_aggregate_minmax",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM orders
    WHERE o_orderkey % 3 <= 1
    GROUP BY o_orderstatus
    """,
)
def cdc_aggregate_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained MIN/MAX aggregates (VERDICT r11 item 3;
    operators/snapshots.py maintain_snapshot_agg min_cols/max_cols):
    the same four-version history as cdc_aggregate_maintenance —
    three appends of disjoint order thirds, then a ROLLBACK that
    drops the last third — but the materialization now carries
    per-status min/max cents alongside count and sum. The two append
    refreshes take the FAST path (extrema of an append-only CDC merge
    exactly: least/greatest of stored vs delta partials, cost ∝
    changed files); the rollback refresh exercises the RECOMPUTE
    fallback (extrema have no inverse element, so exactly the groups
    the removals touch are re-aggregated from the target version —
    the scan is semi-joined to the CDC-sized affected set, every
    other group keeps its merged row). The final state must equal the
    oracle's from-scratch aggregate over the live orders (keys % 3 in
    (0, 1)), a hash match proving maintenance ≡ recompute for
    non-invertible aggregates too."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="cdc_minmax_")
    try:
        table = f"{tmp}/orders_snap"
        state = f"{tmp}/agg_state"
        for part in range(3):
            SN.snapshot_write(
                orders.filter(F.col("o_orderkey") % 3 == part), table,
                mode="append",
            )
            SN.maintain_snapshot_agg(
                spark, table, state, ["o_orderstatus"],
                sum_cols=["cents"], min_cols=["cents"],
                max_cols=["cents"],
            )
        SN.rollback_snapshot(spark, table, 2)
        out = SN.maintain_snapshot_agg(
            spark, table, state, ["o_orderstatus"],
            sum_cols=["cents"], min_cols=["cents"], max_cols=["cents"],
        )
        return out.select(
            "o_orderstatus",
            "n_rows",
            "sum_cents",
            F.col("min_cents").cast("long").alias("min_cents"),
            F.col("max_cents").cast("long").alias("max_cents"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "avro_logical_types",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(
             (CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                   AS BIGINT) * 86400 + o_orderkey % 86400) * 1000000
           ) AS BIGINT) AS min_ts_us,
           CAST(max(
             (CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                   AS BIGINT) * 86400 + o_orderkey % 86400) * 1000000
           ) AS BIGINT) AS max_ts_us
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey < 30000
    GROUP BY 1
    """,
)
def avro_logical_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL TYPES as first-class columns (VERDICT r11 item 7;
    sources/avro_io.py): a Rucio-shaped dump — decimal(18,2) amounts,
    timestamp-micros event times, date partitions, the fields
    rucio_daily.py:49-54 carries — is written to a two-file Avro
    fixture with the module's spec-conformant writer, read back
    through the jar-less binaryFile + mapInPandas path, and
    aggregated per month off the DECODED DecimalType / TimestampType
    / DateType columns (sum of decimal cents exact, min/max epoch
    micros via unix_micros). The oracle recomputes every value
    arithmetically from the orders parquet — a hash match proves the
    codec's two's-complement decimal and UTC temporal decoding, not
    just row counts. The fixture writer is the test-side utility
    (driver-side) — its keyspace is CAPPED (o_orderkey < 30000, same
    predicate in the oracle) so the fixture stays O(1) in corpus size
    and the scale sweep measures the READER, which is the scale path:
    one task per binaryFile split, no driver materialization."""
    import datetime
    import decimal
    import shutil
    import tempfile

    from cmsspark_spark.sources.avro_io import read_avro, write_container

    sel = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") % 10 == 0)
            & (F.col("o_orderkey") < 30000)
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    utc = datetime.timezone.utc

    def _as_date(v):  # the parquet column may be DATE or TIMESTAMP
        return v.date() if isinstance(v, datetime.datetime) else v

    recs = [
        {
            "k": r.o_orderkey,
            "amt": decimal.Decimal(r.cents).scaleb(-2),
            "ts": datetime.datetime(
                d.year, d.month, d.day, tzinfo=utc
            )
            + datetime.timedelta(seconds=r.o_orderkey % 86400),
            "d": d,
        }
        for r in sel.collect()
        for d in (_as_date(r.o_orderdate),)
    ]
    schema = {
        "type": "record", "name": "rucio_like", "fields": [
            {"name": "k", "type": "long"},
            {"name": "amt", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 18, "scale": 2}},
            {"name": "ts", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        ],
    }
    tmp = tempfile.mkdtemp(prefix="avro_logical_")
    try:
        half = len(recs) // 2
        write_container(f"{tmp}/part-0.avro", schema, recs[:half])
        write_container(f"{tmp}/part-1.avro", schema, recs[half:])
        df = read_avro(spark, f"{tmp}/*.avro")
        return (
            df.groupBy(
                F.date_format("d", "yyyy-MM").alias("month")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("amt") * 100).cast("long").alias("sum_cents"),
                F.min(F.unix_micros("ts")).alias("min_ts_us"),
                F.max(F.unix_micros("ts")).alias("max_ts_us"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_point_lookup",
    """
    SELECT d.doc_id,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS hits_v1,
           CAST(1 AS BIGINT) AS hits_v2
    FROM documents d
    WHERE d.doc_id < 6
    """,
)
def snapshot_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION-PINNED point lookups over a snapshot table (VERDICT r11
    item 4; jobs/point_lookup.py snapshot_version): a two-version
    corpus — v1 holds the even doc ids, v2 appends the odds — carries
    stats + Bloom sidecars over its root, and doc ids 0-5 are looked
    up pinned to EACH version. The plan starts from exactly the pinned
    version's file list (snapshot_files — O(1) metadata) and the
    sidecar tiers prune within it, so a v1-pinned lookup provably
    never opens a v2 file (asserted inline: kept ⊆ pin, failing loud)
    and an odd key is INVISIBLE at v1 while every probed key hits at
    v2 — the oracle states that truth table arithmetically. Scale:
    planning is manifest-parquet metadata; each scan opens only the
    planned (pinned ∩ Bloom-admitted) files."""
    import shutil
    import tempfile

    from cmsspark_spark.jobs import point_lookup
    from cmsspark_spark.operators import layout as L
    from cmsspark_spark.operators import snapshots as SN

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tmp = tempfile.mkdtemp(prefix="snap_lookup_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(
            docs.filter(F.col("doc_id") % 2 == 0).repartition(4), table,
            mode="append",
        )
        SN.snapshot_write(
            docs.filter(F.col("doc_id") % 2 == 1).repartition(4), table,
            mode="append",
        )
        L.write_file_manifest(spark, table, ["doc_id"])
        L.write_bloom_manifest(spark, table, "doc_id")
        point_lookup._META_CACHE.clear()
        pinned1 = set(SN.snapshot_files(spark, table, 1))

        def _lookup(key: int) -> tuple:
            p1 = point_lookup.run(
                spark, table, "doc_id", key, snapshot_version=1
            )
            if not set(p1["files_kept"]) <= pinned1:
                raise AssertionError(
                    f"v1-pinned lookup planned files outside the pin: "
                    f"{sorted(set(p1['files_kept']) - pinned1)}"
                )
            p2 = point_lookup.run(
                spark, table, "doc_id", key, snapshot_version=2
            )
            return (key, int(p1["n_hits"]), int(p2["n_hits"]))

        # the 12 version-pinned lookups are independent read-only
        # jobs: issue them from concurrent driver threads (guide
        # §2.6 — the serial loop was pure per-job latency; the
        # lookup path itself is unchanged and thread-safe via the
        # planning-cache lock). pool.map preserves key order, so the
        # returned frame is byte-identical to the serial loop's.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=6) as pool:
            rows = list(pool.map(_lookup, range(6)))
        return local_frame(
            spark,
            rows, "doc_id long, hits_v1 long, hits_v2 long"
        )
    finally:
        point_lookup._META_CACHE.clear()
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_optimize_roundtrip",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_optimize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE for snapshot tables (operators/snapshots.py
    optimize_snapshot — Iceberg rewrite_data_files / Delta OPTIMIZE):
    a corpus lands in two multi-file appends (streaming-shaped
    small-file accumulation), then the latest version is rewritten
    into TWO z-order-clustered files committed as a new version. The
    returned aggregate reads the OPTIMIZED version — a hash match
    against the oracle's direct aggregate is the rows-identical proof
    (rewrite moved bytes, not content). Inline asserts: the file count
    actually shrank, the op is recorded as optimize:<source v>, and
    the pre-optimize version still reads (time travel intact). Scale:
    the rewrite costs one read+write of the LIVE version only;
    superseded files stay owned by older versions until
    expire_snapshots."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="snap_opt_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(
            orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4),
            table, mode="append",
        )
        SN.snapshot_write(
            orders.filter(F.col("o_orderkey") % 2 == 1).repartition(4),
            table, mode="append",
        )
        n_before = len(SN.snapshot_files(spark, table, 2))
        v_opt = SN.optimize_snapshot(
            spark, table, n_files=2, zorder_by=["o_custkey", "cents"]
        )
        files_opt = SN.snapshot_files(spark, table, v_opt)
        if not (len(files_opt) <= 2 < n_before):
            raise AssertionError(
                f"optimize did not fold files: {n_before} -> "
                f"{len(files_opt)}"
            )
        op = SN.read_snapshot_meta(spark, table, v_opt)["op"]
        if op != "optimize:2":
            raise AssertionError(f"unexpected op {op!r}")
        if SN.read_snapshot(spark, table, 2).count() != SN.read_snapshot(
            spark, table, v_opt
        ).count():
            raise AssertionError("pre-optimize version lost rows")
        return (
            SN.read_snapshot(spark, table, v_opt)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "cdc_aggregate_moments",
    """
    WITH m AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                 * CAST(floor(o_totalprice * 100) AS HUGEINT)) AS sq
      FROM orders
      WHERE o_orderkey % 3 <= 1
      GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_rows, sum_cents,
           CAST(sq // 1000000000000000000 AS BIGINT) AS sumsq_hi,
           CAST(sq % 1000000000000000000 AS BIGINT) AS sumsq_lo
    FROM m
    """,
)
def cdc_aggregate_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained SECOND MOMENTS (maintain_snapshot_agg
    sumsq_cols): Σv² folds by the same signed CDC algebra as sums —
    squares have an inverse element, so the moment stays exact through
    the rollback at delta cost (no recompute path needed, unlike
    min/max). Same four-version history as cdc_aggregate_maintenance;
    the final state must equal the oracle's from-scratch n/Σv/Σv² over
    the live orders — variance/stddev derive downstream as
    (Σv² − (Σv)²/n)/n with no extra maintained state. Integer cents
    keep every fold on the exact grid (no float reassociation).

    The internal accumulator is DECIMAL(38,0) (Σv² breaches int64 at
    corpus scale), but the DRIVER-VISIBLE schema splits it into
    non-negative hi/lo BIGINT limbs on the 10¹⁸ radix
    (sumsq = hi·10¹⁸ + lo) — decimal value types hash differently
    across engines even when numerically equal (r12 verdict), while
    two BIGINTs are representation-stable on both sides."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="cdc_moments_")
    try:
        table = f"{tmp}/orders_snap"
        state = f"{tmp}/agg_state"
        for part in range(3):
            SN.snapshot_write(
                orders.filter(F.col("o_orderkey") % 3 == part), table,
                mode="append",
            )
            SN.maintain_snapshot_agg(
                spark, table, state, ["o_orderstatus"],
                sum_cols=["cents"], sumsq_cols=["cents"],
            )
        SN.rollback_snapshot(spark, table, 2)
        out = SN.maintain_snapshot_agg(
            spark, table, state, ["o_orderstatus"],
            sum_cols=["cents"], sumsq_cols=["cents"],
        )
        radix = F.lit(10**18).cast("decimal(38,0)")
        return out.select(
            "o_orderstatus",
            "n_rows",
            "sum_cents",
            F.expr(
                "sumsq_cents div "
                "CAST(1000000000000000000 AS DECIMAL(38,0))"
            ).alias("sumsq_hi"),
            (F.col("sumsq_cents") % radix).cast("long").alias("sumsq_lo"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_schema_evolution",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_pre_evolution
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION on snapshot tables (snapshots.snapshot_write
    mixed_schemas + read_snapshot merged planning): v1 lands orders
    WITHOUT the cents column, v2 appends the odd keys WITH it — the
    lakehouse add-column shape. The merged latest read surfaces cents
    as NULL for every pre-evolution row (counted as n_pre_evolution
    via the null itself), sums fold only the evolved rows, and the
    oracle restates that truth arithmetically over the raw orders.
    Inline asserts: the commit carries the mixed flag and a pinned v1
    read keeps its original two-column schema. Scale: homogeneous
    versions plan without schema merging; only flagged versions pay
    the merge footer pass."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    )
    old_shape = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new_shape = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="snap_evo_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(old_shape, table, mode="append")
        SN.snapshot_write(new_shape, table, mode="append")
        if SN.read_snapshot_meta(spark, table, 2).get(
            "mixed_schemas"
        ) is not True:
            raise AssertionError("evolved append not flagged")
        if set(SN.read_snapshot(spark, table, 1).columns) != {
            "o_orderkey", "o_orderstatus"
        }:
            raise AssertionError("pinned pre-evolution schema drifted")
        return (
            SN.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.coalesce(F.col("cents"), F.lit(0)))
                .cast("long")
                .alias("sum_cents"),
                F.sum(
                    F.when(F.col("cents").isNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_pre_evolution"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_equality_deletes",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderkey % 4 = 0 AND o_custkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_equality_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EQUALITY DELETES on snapshot tables (snapshots.snapshot_delete —
    the Iceberg v2 delete-file shape): the corpus lands in two appends,
    then every order of a %5 customer is deleted by KEY, writing one
    delete file ∝ keys and REWRITING NO DATA FILE (asserted inline:
    the delete version lists the same data files as its parent, and
    the pre-delete version still reads the full corpus). Reads of the
    delete-carrying version anti-join the delete files; the returned
    aggregate over the latest read must hash-match the oracle's direct
    WHERE NOT-deleted aggregate. A CDC-maintained aggregate refreshed
    across the delete version is asserted equal to the returned state
    — the delete-delta rows (-1 per newly-dead row) keep the signed
    fold exact. This is the at-scale delete story: marking a billion
    dead rows costs one key-sized file, and optimize folds it later."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 4 == 0)
    tmp = tempfile.mkdtemp(prefix="snap_del_")
    try:
        table = f"{tmp}/t"
        state = f"{tmp}/agg"
        SN.snapshot_write(
            orders.filter(F.col("o_orderkey") % 2 == 0), table,
            mode="append",
        )
        SN.snapshot_write(
            orders.filter(F.col("o_orderkey") % 2 == 1), table,
            mode="append",
        )
        SN.maintain_snapshot_agg(
            spark, table, state, ["o_orderstatus"], sum_cols=["cents"]
        )
        dead_keys = orders.filter(F.col("o_custkey") % 5 == 0).select(
            "o_orderkey"
        )
        v_del = SN.snapshot_delete(spark, table, dead_keys, ["o_orderkey"])
        if SN.read_snapshot_meta(spark, table, v_del)[
            "files"
        ] != SN.read_snapshot_meta(spark, table, v_del - 1)["files"]:
            raise AssertionError("delete rewrote data files")
        if SN.read_snapshot(spark, table, v_del - 1).count() != (
            orders.count()
        ):
            raise AssertionError("pre-delete version lost rows")
        out = (
            SN.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
        maintained = {
            (r.o_orderstatus): (r.n_rows, r.sum_cents)
            for r in SN.maintain_snapshot_agg(
                spark, table, state, ["o_orderstatus"],
                sum_cols=["cents"],
            ).collect()
        }
        direct = {
            (r.o_orderstatus): (r.n_rows, r.sum_cents)
            for r in out.collect()
        }
        if maintained != direct:
            raise AssertionError(
                "CDC-maintained aggregate diverged across the delete "
                f"version: {maintained} != {direct}"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

@query(
    "snapshot_delete_reinsert",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 4 = 0 AND o_custkey % 5 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 1 AS cents
      FROM orders
      WHERE o_orderkey % 4 = 0 AND o_custkey % 5 = 0
        AND o_orderkey % 8 = 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_delete_reinsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE-THEN-REINSERT on a snapshot table — the Iceberg v2
    SEQUENCE-SCOPING contract (snapshots._scan_with_deletes): an
    equality-delete file applies only to data files with a strictly
    lower add-sequence, so rows re-appended AFTER the delete survive
    reads even though their keys sit in the accumulated delete set.
    The corpus lands as one append; every order of a %5 customer is
    deleted by key; the %8 subset of the deleted orders is then
    REINSERTED with a corrected price (+1 cent). The final read must
    equal the oracle's (never-deleted UNION corrected-reinserts)
    aggregate — under the pre-sequencing flat anti-join the reinserted
    rows silently vanished (ADVICE r12, data loss for the standard
    correction pattern). A CDC-maintained aggregate refreshed across
    append → delete → reinsert is asserted equal to the direct read:
    the signed delete-delta and the reinsert's +1 rows keep the fold
    exact without recomputation."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 4 == 0)
    tmp = tempfile.mkdtemp(prefix="snap_reins_")
    try:
        table = f"{tmp}/t"
        state = f"{tmp}/agg"

        def refresh():
            return {
                r.o_orderstatus: (r.n_rows, r.sum_cents)
                for r in SN.maintain_snapshot_agg(
                    spark, table, state, ["o_orderstatus"],
                    sum_cols=["cents"],
                ).collect()
            }

        SN.snapshot_write(orders, table, mode="append")
        refresh()
        dead = orders.filter(F.col("o_custkey") % 5 == 0)
        SN.snapshot_delete(
            spark, table, dead.select("o_orderkey"), ["o_orderkey"]
        )
        refresh()
        corrected = dead.filter(F.col("o_orderkey") % 8 == 0).withColumn(
            "cents", F.col("cents") + F.lit(1)
        )
        SN.snapshot_write(corrected, table, mode="append")
        out = (
            SN.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
        direct = {
            r.o_orderstatus: (r.n_rows, r.sum_cents)
            for r in out.collect()
        }
        if refresh() != direct:
            raise AssertionError(
                "CDC-maintained aggregate diverged across the "
                "delete→reinsert sequence"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

@query(
    "snapshot_upsert_merge",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 200 AS cents
      FROM orders
      WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 10 AS cents
      FROM orders
      WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_upsert_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed MERGE on a snapshot table (snapshots.snapshot_upsert —
    the Delta ``MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``
    shape): each upsert is ONE atomic commit carrying both the batch's
    data files (add-seq = v) and an equality-delete file of its keys
    (seq = v), so the Iceberg v2 sequence scoping kills exactly the
    OLDER rows of matched keys and never the batch's own — no reader
    can observe a half-applied merge, and write cost is ∝ batch
    (merge-on-read, the shape that survives 100 TB where
    copy-on-write rewrites don't).

    Exercised for real: base load (o_orderkey %3), an upsert that
    UPDATES the %15 keys and INSERTS the %5∧¬%3 keys (+10 cents), then
    a stacked upsert of the %10 keys (+200 cents) hitting both
    base-origin and first-upsert-origin rows. The final read must
    hash-match the oracle's last-writer-wins union, and a
    CDC-maintained aggregate refreshed after every commit
    (maintain_snapshot_agg — signed update images from the delete-set
    delta plus the added files) is asserted equal to the direct read
    at each step. Time travel to the pre-merge base is asserted
    intact. No reference twin: the reference's correction pattern is
    whole-directory overwrite (dbs_hdfs_eos.py:55-62)."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_upsert_")
    try:
        table = f"{tmp}/t"
        state = f"{tmp}/agg"

        def refresh():
            return {
                r.o_orderstatus: (r.n_rows, r.sum_cents)
                for r in SN.maintain_snapshot_agg(
                    spark, table, state, ["o_orderstatus"],
                    sum_cols=["cents"],
                ).collect()
            }

        def direct(version=None):
            return (
                SN.read_snapshot(spark, table, version)
                .groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
            )

        def snap(version=None):
            return {
                r.o_orderstatus: (r.n_rows, r.sum_cents)
                for r in direct(version).collect()
            }

        # each checkpoint's maintained-agg refresh and direct read are
        # independent jobs — run them concurrently (guide §2.6); the
        # comparisons are unchanged, so the assertions and the
        # returned frame are byte-identical to the serial form
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            base_v = SN.snapshot_write(slice_(k % 3 == 0, 0), table)
            fr = pool.submit(refresh)
            base_direct = snap()
            if fr.result() != base_direct:
                raise AssertionError(
                    "maintained agg diverged at base load"
                )
            SN.snapshot_upsert(
                slice_(k % 5 == 0, 10), table, ["o_orderkey"]
            )
            fr = pool.submit(refresh)
            if fr.result() != snap():
                raise AssertionError(
                    "maintained agg diverged across upsert 1"
                )
            SN.snapshot_upsert(
                slice_(k % 10 == 0, 200), table, ["o_orderkey"]
            )
            fr = pool.submit(refresh)
            # the pre-merge base is still exactly readable (merge
            # never rewrites history)
            fb = pool.submit(snap, base_v)
            out = direct().localCheckpoint(eager=True)
            if fr.result() != {
                r.o_orderstatus: (r.n_rows, r.sum_cents)
                for r in out.collect()
            }:
                raise AssertionError(
                    "maintained agg diverged across upsert 2"
                )
            if fb.result() != base_direct:
                raise AssertionError("time travel to pre-merge base broke")
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_cdc_feed",
    """
    SELECT cdc_version, o_orderstatus,
           CAST(count(*) AS BIGINT)          AS n_rows,
           CAST(sum(sign) AS BIGINT)         AS net_rows,
           CAST(sum(sign * cents) AS BIGINT) AS net_cents
    FROM (
      SELECT 1 AS cdc_version, o_orderstatus, 1 AS sign,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT 2, o_orderstatus, 1,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 10
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT 2, o_orderstatus, -1,
             CAST(floor(o_totalprice * 100) AS BIGINT)
      FROM orders WHERE o_orderkey % 15 = 0
      UNION ALL
      SELECT 3, o_orderstatus, -1,
             CAST(floor(o_totalprice * 100) AS BIGINT)
      FROM orders
      WHERE o_orderkey % 6 = 0 AND o_orderkey % 15 <> 0
      UNION ALL
      SELECT 3, o_orderstatus, -1,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 10
      FROM orders WHERE o_orderkey % 30 = 0
    )
    GROUP BY cdc_version, o_orderstatus
    """,
)
def snapshot_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed SOURCE over a snapshot table
    (sources/snapcdc.py — the Delta CDF / Iceberg incremental-read
    shape as a first-class ``format("snapshot_cdc")`` DataSource):
    the version log is the offset log, planning diffs per-version
    file lists (metadata only, cost ∝ changed files), and reads run
    on executors as Arrow batches with the key-sized delete files
    anti/semi-joined per file.

    Exercised across the three commit kinds: a base append (%3 keys),
    a keyed UPSERT (%5 keys, +10 cents — must stream as exact update
    images: matched old rows −1, all batch rows +1), and an equality
    DELETE (%6 keys — must emit −1 only for rows still live at the
    parent, including upsert-origin rows the new delete outranks).
    The oracle states every per-version delta explicitly; the Spark
    side reads the WHOLE feed through the batch mode of the same
    DataSource the stream uses and aggregates signed row/cents sums
    per (version, status). The streaming mode is the same planner
    (tests/test_snapshots.py exercises exactly-once across
    restarts)."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN
    from cmsspark_spark.sources import snapcdc

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_cdc_feed_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(slice_(k % 3 == 0, 0), table)
        SN.snapshot_upsert(slice_(k % 5 == 0, 10), table, ["o_orderkey"])
        SN.snapshot_delete(
            spark, table,
            slice_(k % 6 == 0, 0).select("o_orderkey"), ["o_orderkey"],
        )
        snapcdc.register(spark)
        feed = spark.read.format("snapshot_cdc").option("path", table).load()
        return (
            feed.groupBy(
                F.col("_cdc_version").alias("cdc_version"),
                "o_orderstatus",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("_cdc_sign").cast("long").alias("net_rows"),
                F.sum(F.col("_cdc_sign") * F.col("cents"))
                .cast("long").alias("net_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_cdc_replication",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 10 AS cents
      FROM orders
      WHERE o_orderkey % 5 = 0 AND o_orderkey % 30 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
        AND o_orderkey % 6 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_cdc_replication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end CDC REPLICATION: ``readStream.format("snapshot_cdc")``
    over source table A (sources/snapcdc.py — versions as offsets,
    executor-side Arrow reads) feeding
    ``snapshot_replicate_sink`` on replica B, which lands each
    micro-batch's NET per-key effect (superseded intra-batch changes
    collapse; a key whose last image is −1 dies) as ONE atomic
    ``snapshot_apply_changes`` commit — upserts and deletes together,
    exactly-once via the epoch ledger, no torn middle state.

    A's history: base append (%3 keys), keyed upsert (%5 keys,
    +10 cents), equality delete (%6 keys). The stream replicates all
    three commit kinds in one availableNow pass; the returned frame
    aggregates REPLICA B's live view, which must hash-match the
    oracle's statement of A's final content — and A's own live
    aggregate is asserted identical first. Scale shape: replication
    cost ∝ changed files + changed keys per batch, never table size
    (the plan both sides ship at 100 TB).

    Cost floor (r13/r14 adjudication): ~5 s at sf0.1 = building A's
    3-commit history + Structured Streaming start/stop + one
    exactly-once apply commit; the stream already drains every
    version in ONE availableNow batch and the source-table audit
    overlaps the replica work (r13). Fusing the audits into the
    foreachBatch epoch would shave ~1 s more but couples the audit to
    the sink contract — declined while the bench holds flat
    (r13→r14: 5.54→5.44 s)."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN
    from cmsspark_spark.sources import snapcdc

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_cdc_repl_")
    try:
        a = f"{tmp}/a"
        b = f"{tmp}/b"
        SN.snapshot_write(slice_(k % 3 == 0, 0), a)
        SN.snapshot_upsert(slice_(k % 5 == 0, 10), a, ["o_orderkey"])
        SN.snapshot_delete(
            spark, a,
            slice_(k % 6 == 0, 0).select("o_orderkey"), ["o_orderkey"],
        )
        snapcdc.register(spark)
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("path", a)
            .load()
            .writeStream.foreachBatch(
                SN.snapshot_replicate_sink(b, ["o_orderkey"])
            )
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        def agg(t):
            return (
                SN.read_snapshot(spark, t)
                .groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
            )

        # the two audit aggregates read DIFFERENT tables (source A,
        # replica B) — independent driver jobs, so A's runs from a
        # thread and overlaps B's checkpoint+collect (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            f_a = pool.submit(
                lambda: {
                    r.o_orderstatus: (r.n_rows, r.sum_cents)
                    for r in agg(a).collect()
                }
            )
            out = agg(b).localCheckpoint(eager=True)
            got_b = {
                r.o_orderstatus: (r.n_rows, r.sum_cents)
                for r in out.collect()
            }
            got_a = f_a.result()
        if got_a != got_b:
            raise AssertionError(
                f"replica diverged from source: {got_b} != {got_a}"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_wap_publish",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS cents
      FROM orders
      WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 5 AS cents
      FROM orders WHERE o_orderkey % 9 = 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on a snapshot table (snapshots.
    snapshot_write_staged / read_staged / publish_staged /
    discard_staged — the public Iceberg WAP pattern): a staged write
    lands data files plus a stage ENTRY outside the version chain, so
    no reader, maintenance job, or streaming sink can see it until an
    audit passes; the audit reads the exact would-be-published view;
    publish turns the entry into a real commit that COMPOSES with
    commits made in between (the increment replays onto the current
    parent); discard drops the entry and leaves the files to vacuum.

    Exercised: base load (%3 keys) → a BAD batch staged and DISCARDED
    (+1000-cent rows that must never surface) → a GOOD correction
    staged (%9 keys, +5 cents) → a normal append lands WHILE the stage
    is pending (%7∧¬%3 keys, +7 cents; asserted invisible to none,
    stage invisible to it) → audit read validated → publish. The
    final read must hash-match the oracle's base ∪ append ∪ published
    union, with the discarded rows absent. Scale shape: staging cost
    ∝ batch, audit is a plain read, publish is one metadata commit."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_wap_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(slice_(k % 3 == 0, 0), table)
        n_base = SN.read_snapshot(spark, table).count()

        # a bad batch is staged, audited, and REJECTED
        bad = SN.snapshot_write_staged(slice_(k % 11 == 0, 1000), table)
        SN.discard_staged(spark, table, bad)

        # the good correction is staged; a normal append lands while
        # the audit is pending — neither sees the other
        sid = SN.snapshot_write_staged(slice_(k % 9 == 0, 5), table)
        SN.snapshot_write(
            slice_((k % 7 == 0) & (k % 3 != 0), 7), table, mode="append"
        )
        n_inc = slice_(k % 9 == 0, 5).count()
        n_app = slice_((k % 7 == 0) & (k % 3 != 0), 7).count()
        if SN.read_snapshot(spark, table).count() != n_base + n_app:
            raise AssertionError("staged rows leaked into a normal read")
        # audit: the preview must be current-live + exactly the staged
        # increment, and carry none of the discarded batch's +1000 rows
        audit = SN.read_staged(spark, table, sid)
        if audit.count() != n_base + n_app + n_inc:
            raise AssertionError("audit preview has the wrong row set")
        SN.publish_staged(spark, table, sid)
        out = (
            SN.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_partition_upsert",
    """
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0
        AND NOT (o_orderkey % 9 = 0
                 AND strftime(o_orderdate, '%Y-%m') < '1998')
      UNION ALL
      SELECT strftime(o_orderdate, '%Y-%m'),
             CAST(floor(o_totalprice * 100) AS BIGINT) + 50
      FROM orders
      WHERE o_orderkey % 9 = 0
        AND strftime(o_orderdate, '%Y-%m') < '1998'
      UNION ALL
      SELECT strftime(o_orderdate, '%Y-%m'),
             CAST(floor(o_totalprice * 100) AS BIGINT) + 5
      FROM orders
      WHERE o_orderkey % 7 = 1 AND o_orderkey % 3 <> 0
        AND strftime(o_orderdate, '%Y-%m') < '1998'
    )
    GROUP BY month
    """,
)
def snapshot_partition_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed MERGE at PARTITION grain (snapshots.
    snapshot_upsert_partitions — the copy-on-write complement of the
    delete-file upsert, and the merge mechanism for partition-
    attributed tables where equality deletes are refused by design):
    the batch's touched month-partitions are read (metadata-pruned),
    anti-joined on the key, unioned with the batch, and committed as
    one partition-overwrite — existing keys replaced, new keys
    inserted, and every untouched month's manifest REUSED BY POINTER
    (asserted below: commit cost ∝ touched partitions, the property
    that matters when the table holds years and the correction holds
    a quarter).

    Exercised: base load of %3 keys over ~80 month partitions, then
    one merge touching only pre-1998 months — updating the %9 keys
    (+50 cents) and inserting %7≡1 keys (+5 cents). The final read
    must hash-match the oracle; months ≥ 1998-01 are asserted to keep
    their exact manifest pointers across the merge."""
    import json
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    early = F.date_format("o_orderdate", "yyyy-MM") < "1998"
    tmp = tempfile.mkdtemp(prefix="snap_pup_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write_partitions(
            slice_(k % 3 == 0, 0), table, ["month"]
        )
        batch = slice_((k % 9 == 0) & early, 50).unionByName(
            slice_((k % 7 == 1) & (k % 3 != 0) & early, 5)
        )
        SN.snapshot_upsert_partitions(batch, table, ["month"], ["o_orderkey"])
        m1 = SN.read_snapshot_meta(spark, table, 1)
        m2 = SN.read_snapshot_meta(spark, table, 2)

        def pointers(meta, pred):
            return {
                m for m, pk in meta["manifest_parts"].items()
                if pred(json.loads(pk)[0])
            }

        if pointers(m1, lambda mo: mo >= "1998") != pointers(
            m2, lambda mo: mo >= "1998"
        ):
            raise AssertionError(
                "untouched months were rewritten — merge must reuse "
                "their manifests by pointer"
            )
        if pointers(m1, lambda mo: mo < "1998") == pointers(
            m2, lambda mo: mo < "1998"
        ):
            raise AssertionError("touched months kept stale pointers")
        return (
            SN.read_snapshot(spark, table)
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_tagged_baseline",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_tagged_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NAMED REFS with retention pinning (snapshots.snapshot_tag /
    snapshot_untag — the Iceberg tag shape): a tag is a stable read
    handle (``read_snapshot(spark, t, "baseline")``) and a RETENTION
    PIN — expire_snapshots never expires a tagged version, so "keep
    the monthly baselines, expire the rest" is one policy, not a
    hand-maintained keep-list (the property a training-data lineage
    needs: the corpus snapshot a model shipped from must survive
    routine retention).

    Exercised end-to-end: base load (%2 keys) tagged ``baseline``,
    two overwrites that replace the live content, then a destructive
    ``expire keep_last=1`` — which is asserted to expire the middle
    version, KEEP the tagged base (files intact), and the returned
    frame reads THROUGH THE TAG and must hash-match the oracle's
    statement of the original slice."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_tag_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(slice_(k % 2 == 0, 0), table)
        SN.snapshot_tag(spark, table, "baseline")
        SN.snapshot_write(slice_(k % 5 == 0, 3), table, mode="overwrite")
        SN.snapshot_write(slice_(k % 7 == 0, 9), table, mode="overwrite")
        res = SN.expire_snapshots(
            spark, table, keep_last=1, dry_run=False
        )
        if res["expired_versions"] != [2] or res["kept_versions"] != [1, 3]:
            raise AssertionError(
                f"tag must pin v1 through retention, got {res}"
            )
        return (
            SN.read_snapshot(spark, table, "baseline")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_rewrite_manifests",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT)
               + (o_orderkey % 6) AS cents
      FROM orders WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 99 AS cents
      FROM orders WHERE o_orderkey % 10 = 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_rewrite_manifests(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """METADATA compaction for manifest-mode snapshot tables
    (snapshots.rewrite_manifests — Iceberg's rewrite_manifests): every
    append adds one manifest chunk, so after N commits a read resolves
    N pointer files; the rewrite folds the live list into few fresh
    chunks and commits a content-identical version — NO data file is
    moved or read, cost ∝ metadata, which is the whole point on a
    million-file table where OPTIMIZE (data rewrite) would be a
    100-TB job but manifest folding is seconds.

    Exercised on a lineage that makes the fold non-trivial: six
    residue-sliced appends (forced into manifest mode with a small
    inline threshold), an equality delete (%5 keys), and a reinsert
    (%10 keys, +99 cents) — so chunks carry ADD-SEQUENCES the fold
    must preserve by grouping (a fold that lost them would let the
    old delete kill the reinserted rows). Asserted: manifest count
    strictly drops, the post-fold read hash-matches the oracle, and
    the pre-fold aggregate equals the post-fold one."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + bump
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_rwm_")
    old_max = SN.MANIFEST_INLINE_MAX
    try:
        table = f"{tmp}/t"
        SN.MANIFEST_INLINE_MAX = 4
        for r in range(6):
            SN.snapshot_write(
                slice_(k % 6 == r, F.lit(r)), table, mode="append"
            )
        SN.snapshot_delete(
            spark, table,
            slice_(k % 5 == 0, F.lit(0)).select("o_orderkey"),
            ["o_orderkey"],
        )
        SN.snapshot_write(
            slice_(k % 10 == 0, F.lit(99)), table, mode="append"
        )

        def agg():
            return (
                SN.read_snapshot(spark, table)
                .groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
            )

        before = {
            r.o_orderstatus: (r.n_rows, r.sum_cents)
            for r in agg().collect()
        }
        vs = SN.list_snapshots(spark, table)
        n_before = len(
            SN.read_snapshot_meta(spark, table, vs[-1])["manifests"]
        )
        v = SN.rewrite_manifests(spark, table)
        if v is None:
            raise AssertionError("expected a manifest fold, got no-op")
        n_after = len(
            SN.read_snapshot_meta(spark, table, v)["manifests"]
        )
        if n_after >= n_before:
            raise AssertionError(
                f"fold did not shrink metadata: {n_before} -> {n_after}"
            )
        out = agg().localCheckpoint(eager=True)
        after = {
            r.o_orderstatus: (r.n_rows, r.sum_cents)
            for r in out.collect()
        }
        if after != before:
            raise AssertionError(
                "rewrite_manifests changed table content"
            )
        return out
    finally:
        SN.MANIFEST_INLINE_MAX = old_max
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_time_travel_as_of",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderkey % 4 = 0
    GROUP BY o_orderstatus
    """,
)
def snapshot_time_travel_as_of(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP AS OF time travel (snapshots.version_as_of /
    read_snapshot(as_of=...)): every commit stamps ``committed_ms``
    inside the claim loop, and a wall-clock timestamp resolves to the
    last version at or before it — the Delta/Iceberg "what did the
    table hold when the job started" read, without the caller ever
    tracking version numbers. Resolution walks commit metadata only
    and fails loudly past the retained history (never silently
    resolving to the oldest survivor).

    Exercised: base load (%4 keys), a captured between-timestamp, an
    overwrite that replaces the content (%7 keys, +13 cents) — the
    returned frame reads AS OF the captured instant and must
    hash-match the oracle's statement of the ORIGINAL content, with
    an in-query assert that "now" resolves to the overwrite."""
    import shutil
    import tempfile
    import time

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_asof_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(slice_(k % 4 == 0, 0), table)
        time.sleep(0.05)
        between = time.time() * 1000
        time.sleep(0.05)
        SN.snapshot_write(slice_(k % 7 == 0, 13), table, mode="overwrite")
        if SN.version_as_of(spark, table, time.time() * 1000) != 2:
            raise AssertionError("'now' must resolve to the overwrite")
        return (
            SN.read_snapshot(spark, table, as_of=between)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_stats_skipping",
    """
    WITH b AS (
      SELECT CAST(floor(max(o_orderkey) / 3) AS BIGINT) AS lo,
             CAST(floor(2 * max(o_orderkey) / 3) AS BIGINT) AS hi
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders, b
    WHERE o_orderkey % 2 = 0
      AND o_orderkey BETWEEN b.lo AND b.hi
    GROUP BY o_orderstatus
    """,
)
def snapshot_stats_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX FILE SKIPPING on snapshot reads (snapshots.
    _compute_file_stats / read_snapshot(where_between=...)): commits
    record per-file column ranges (``stats_cols``) and a range read
    drops every file whose range cannot intersect the predicate
    BEFORE any data I/O — the Iceberg/Delta data-skipping shape on
    the explicit-path scan, where it matters most at 100 TB: a
    key-range read of a range-clustered table touches the files that
    hold the range, not the table. The row filter is applied on top,
    so files without stats (older appends) scan instead of skip —
    less pruning, never a wrong answer.

    Exercised: the %2 keyspace lands as three range-disjoint appends
    (thirds of the key domain) with stats on ``o_orderkey``; the
    middle-third range read is asserted (via ``inputFiles``) to scan
    STRICTLY FEWER files than the full read; the returned aggregate
    must hash-match the oracle's plain BETWEEN over the same corpus.
    The bounds are derived identically on both sides
    (floor(max/3), floor(2·max/3)) so the predicate is data-exact."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 2 == 0)
    mk = _t(spark, sf_dir, "orders").agg(
        F.max("o_orderkey")
    ).first()[0]
    lo, hi = mk // 3, (2 * mk) // 3
    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_skip_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(
            orders.filter(k < lo), table, stats_cols=["o_orderkey"]
        )
        SN.snapshot_write(
            orders.filter((k >= lo) & (k <= hi)), table,
            stats_cols=["o_orderkey"],
        )
        SN.snapshot_write(
            orders.filter(k > hi), table, stats_cols=["o_orderkey"]
        )
        full = SN.read_snapshot(spark, table)
        pruned = SN.read_snapshot(
            spark, table, where_between=("o_orderkey", int(lo), int(hi))
        )
        n_full, n_pruned = len(full.inputFiles()), len(pruned.inputFiles())
        if not n_pruned < n_full:
            raise AssertionError(
                f"range read must skip files: {n_pruned} vs {n_full}"
            )
        return (
            pruned.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_wap_upsert",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 10 AS cents
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS cents
      FROM orders
      WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        AND o_orderkey % 5 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_wap_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH over the MERGE path (snapshot_write_staged
    mode='upsert' → read_staged → publish_staged): the audited-
    correction workflow — stage a keyed fix, validate the MERGED
    preview against the live table, publish rows + key-delete in one
    atomic commit at the publish version's sequence, so matched keys'
    older rows die (including rows committed WHILE the stage was
    pending) and the staged rows survive their own delete.

    Exercised: base load (%3 keys) → upsert stage (%5 keys, +10
    cents; updates the %15 overlap, inserts the rest) → a normal
    append lands while pending (%7∧¬%3 keys, +7 cents — its %5-keyed
    rows must ALSO lose to the published correction) → audit preview
    row-count validated → publish. The final read must hash-match the
    oracle's last-writer-wins union."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    def slice_(pred, bump):
        return (
            _t(spark, sf_dir, "orders")
            .filter(pred)
            .select(
                "o_orderkey",
                "o_orderstatus",
                (
                    F.floor(F.col("o_totalprice") * 100).cast("long")
                    + F.lit(bump)
                ).alias("cents"),
            )
        )

    k = F.col("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="snap_wapu_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(slice_(k % 3 == 0, 0), table)
        sid = SN.snapshot_write_staged(
            slice_(k % 5 == 0, 10), table, mode="upsert",
            key_cols=["o_orderkey"],
        )
        SN.snapshot_write(
            slice_((k % 7 == 0) & (k % 3 != 0), 7), table, mode="append"
        )
        n_base = slice_(k % 3 == 0, 0).count()
        n_app = slice_((k % 7 == 0) & (k % 3 != 0), 7).count()
        n_up = slice_(k % 5 == 0, 10).count()
        n_matched = slice_(
            (k % 5 == 0) & ((k % 3 == 0) | (k % 7 == 0)), 0
        ).count()
        audit = SN.read_staged(spark, table, sid)
        if audit.count() != n_base + n_app + n_up - n_matched:
            raise AssertionError("merged audit preview has wrong rows")
        SN.publish_staged(spark, table, sid)
        return (
            SN.read_snapshot(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "snapshot_partition_overwrite",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 1 AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'F'
        AND o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 100 AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'O'
        AND o_orderkey % 7 = 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-GRAIN snapshot commits (snapshots.
    snapshot_write_partitions / commit_partition_snapshot) — the
    reference's daily dynamic-partition-overwrite workflow
    (/root/reference/src/python/CMSSpark/dbs_hdfs_eos.py:55-62
    overwrites one day's HDFS output in place) re-expressed with full
    history: each commit atomically replaces exactly the partitions it
    writes, via one manifest pointer per (commit × partition), so the
    metadata cost is O(touched partitions), never O(table).

    INTERLEAVING exercised for real: after the base load, an
    overwrite of partition F (corrected subset, +1 cent) and an
    append to partition O (+100-cent adjustment rows) are BOTH
    planned against the same stale parent version and committed one
    after the other — the second writer's conflict audit proves
    disjointness and composes on top of the first instead of aborting
    or clobbering. The final read must hash-match the oracle's SERIAL
    schedule. An overwrite of F planned at the stale parent is then
    asserted to FAIL LOUDLY (lost-update prevention), and a
    partition-pruned read (metadata-only manifest selection) is
    asserted equal to the filtered full read."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="snap_part_")
    try:
        table = f"{tmp}/t"
        stale = SN.snapshot_write_partitions(
            base, table, ["o_orderstatus"]
        )
        corrected_f = base.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
        ).withColumn("cents", F.col("cents") + F.lit(1))
        SN.snapshot_write_partitions(
            corrected_f, table, ["o_orderstatus"], expected_parent=stale
        )
        adj_o = base.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 7 == 0)
        ).withColumn("cents", F.col("cents") + F.lit(100))
        SN.snapshot_write_partitions(
            adj_o, table, ["o_orderstatus"], mode="append",
            expected_parent=stale,
        )
        try:
            SN.snapshot_write_partitions(
                corrected_f.limit(1), table, ["o_orderstatus"],
                expected_parent=stale,
            )
            raise AssertionError(
                "overlapping partition overwrite from a stale parent "
                "must fail loudly"
            )
        except RuntimeError:
            pass
        full = SN.read_snapshot(spark, table)
        pruned = {
            (r.o_orderkey, r.cents)
            for r in SN.read_snapshot(
                spark, table, partitions={"o_orderstatus": "P"}
            ).collect()
        }
        filtered = {
            (r.o_orderkey, r.cents)
            for r in full.filter(F.col("o_orderstatus") == "P").collect()
        }
        if pruned != filtered:
            raise AssertionError(
                "partition-pruned read diverged from the filtered read"
            )
        return (
            full.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

# boolean/phrase retrieval literals — shared between the Spark serve
# and the DuckDB oracles so the two sides can never drift
_BOOL_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["vector", "scan", "filter"]),
    (2, ["customer", "order"]),
]
_PHRASE_QUERIES = [(0, ["hash", "join"]), (1, ["fast", "scan"])]

_BOOL_Q_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _BOOL_QUERIES for t in ts
)
_PHRASE_MATCH_SQL = " UNION ALL ".join(
    f"SELECT {qid} AS qid, doc_id AS doc FROM tok WHERE len(list_filter("
    "range(1, len(tk)), i -> "
    + " AND ".join(
        f"tk[i+{off}] = '{t}'" for off, t in enumerate(ts)
    )
    + ")) > 0"
    for qid, ts in _PHRASE_QUERIES
)
_PHRASE_Q_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _PHRASE_QUERIES for t in ts
)


def _bm25_boolean_shared(d: DataFrame) -> tuple:
    """Build a POSITIONAL persisted index (two appends) and serve the
    boolean/phrase/pruning-report trio off it. The index PATH is
    memoized per session (_bm25_index_dir — on-disk index state); the
    three registry entries each recompute their serve per call."""
    from cmsspark_spark.operators import retrieval as R

    spark = d.sparkSession

    def _append(idx: str) -> None:
        R.append_bm25_index(
            d.filter(F.col("doc_id") % 4 != 3), idx, positions=True
        )
        R.append_bm25_index(
            d.filter(F.col("doc_id") % 4 == 3), idx, positions=True
        )

    def _serves(idx: str) -> tuple:
        return (
            R.bm25_index_boolean_serve(spark, idx, _BOOL_QUERIES),
            R.bm25_index_boolean_serve(
                spark, idx, _PHRASE_QUERIES, phrase=True
            ),
            R.bm25_boolean_prune_report(spark, idx, _BOOL_QUERIES),
        )

    return _serves(_bm25_index_dir(d, "index_bool", _append))


@query(
    "bm25_boolean_serve",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q(qid, t) AS (VALUES {_BOOL_Q_SQL}),
    qn AS (SELECT qid, count(DISTINCT t) AS nt FROM q GROUP BY 1),
    dfb AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT t FROM q) GROUP BY 1
    ),
    cand AS (
      SELECT q.qid, p.doc, q.t,
             ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n)))))
               AS sc
      FROM q JOIN post p USING (t) JOIN dfb d USING (t), stats s
    ),
    ag AS (SELECT qid, doc, count(DISTINCT t) AS c, sum(sc) AS score
           FROM cand GROUP BY 1, 2),
    hits AS (SELECT ag.qid, ag.doc, ag.score
             FROM ag JOIN qn USING (qid) WHERE ag.c = qn.nt)
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM hits)
    WHERE rank <= 10
    """,
)
def bm25_boolean_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONJUNCTIVE (boolean AND) retrieval served from the persisted
    index (retrieval.bm25_index_boolean_serve) — every query term must
    appear in the doc, ranked by the same BM25 sum as the
    more-like-this family. The candidate intersection runs at BLOCK
    grain on the maintained blockstats first (a block survives only if
    every term has a posting in it), so pruned blocks' postings are
    never read — the Spark-shaped doc-ordered postings merge, with a
    query containing an absent term pruning to zero at metadata cost.
    Hash-exact against DuckDB's direct conjunctive-containment +
    BM25 oracle. This is the lookup shape hard-negative mining and
    decontamination audits issue (VERDICT r12 item 3)."""
    return _bm25_boolean_shared(_t(spark, sf_dir, "documents"))[0]


@query(
    "bm25_phrase_serve",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q(qid, t) AS (VALUES {_PHRASE_Q_SQL}),
    ph AS ({_PHRASE_MATCH_SQL}),
    dfb AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT t FROM q) GROUP BY 1
    ),
    cand AS (
      SELECT q.qid, p.doc, q.t,
             ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n)))))
               AS sc
      FROM q JOIN post p USING (t) JOIN dfb d USING (t), stats s
    ),
    ag AS (SELECT qid, doc, sum(sc) AS score FROM cand GROUP BY 1, 2),
    hits AS (SELECT ag.qid, ag.doc, ag.score
             FROM ag JOIN ph ON ag.qid = ph.qid AND ag.doc = ph.doc)
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM hits)
    WHERE rank <= 10
    """,
)
def bm25_phrase_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE retrieval from the POSITIONAL persisted index: the query
    terms must occur ADJACENT AND IN ORDER. The index's positions/
    table ((t, doc, sorted occurrence offsets), one extra tokenize
    pass per append) feeds a shift-and-intersect check — each term's
    list shifts left by its phrase offset and the phrase matches iff
    the shifted lists share a start position — evaluated entirely
    JVM-side (transform + array_intersect fold) on only the docs that
    already passed the block-pruned conjunctive stage. Hash-exact
    against DuckDB's direct token-window scan of the corpus."""
    return _bm25_boolean_shared(_t(spark, sf_dir, "documents"))[1]


@query(
    "bm25_boolean_prune_report",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, t, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS t FROM tok) GROUP BY 1, 2
    ),
    q(qid, t) AS (VALUES {_BOOL_Q_SQL}),
    qn AS (SELECT qid, count(DISTINCT t) AS nt FROM q GROUP BY 1),
    tb AS (SELECT DISTINCT t, doc // 64 AS blk FROM post
           WHERE t IN (SELECT t FROM q)),
    considered AS (
      SELECT q.qid, CAST(count(*) AS BIGINT) AS blocks_considered
      FROM (SELECT DISTINCT qid, t FROM q) q JOIN tb USING (t)
      GROUP BY 1
    ),
    surv AS (
      SELECT s.qid, s.blk FROM (
        SELECT q.qid, tb.blk, count(DISTINCT tb.t) AS c
        FROM (SELECT DISTINCT qid, t FROM q) q JOIN tb USING (t)
        GROUP BY 1, 2
      ) s JOIN qn USING (qid) WHERE s.c = qn.nt
    ),
    surviving AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS blocks_surviving
      FROM surv GROUP BY 1
    ),
    scanned AS (
      SELECT q.qid, CAST(count(*) AS BIGINT) AS postings_scanned
      FROM (SELECT DISTINCT qid, t FROM q) q
      JOIN post p USING (t)
      JOIN surv ON surv.qid = q.qid AND surv.blk = p.doc // 64
      GROUP BY 1
    ),
    totals AS (
      SELECT q.qid, CAST(count(*) AS BIGINT) AS postings_total
      FROM (SELECT DISTINCT qid, t FROM q) q JOIN post p USING (t)
      GROUP BY 1
    ),
    ad AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS and_docs FROM (
        SELECT q.qid, p.doc, count(DISTINCT p.t) AS c
        FROM (SELECT DISTINCT qid, t FROM q) q JOIN post p USING (t)
        GROUP BY 1, 2
      ) x JOIN qn USING (qid) WHERE x.c = qn.nt GROUP BY 1
    )
    SELECT qn.qid AS query_id,
           COALESCE(blocks_considered, 0) AS blocks_considered,
           COALESCE(blocks_surviving, 0) AS blocks_surviving,
           COALESCE(postings_scanned, 0) AS postings_scanned,
           COALESCE(postings_total, 0) AS postings_total,
           COALESCE(and_docs, 0) AS and_docs
    FROM qn
    LEFT JOIN considered USING (qid)
    LEFT JOIN surviving USING (qid)
    LEFT JOIN scanned USING (qid)
    LEFT JOIN totals USING (qid)
    LEFT JOIN ad USING (qid)
    """,
)
def bm25_boolean_prune_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pruning evidence for the conjunctive serve: per query, the
    (term, block) lists considered, the blocks every term shares, and
    the posting rows actually scanned vs the query terms' full df sum
    — the intersection's skip ratio, hash-exact against the oracle's
    recomputation from raw postings (blk = doc // 64, the pinned
    BLOCK_SIZE). At corpus scale the surviving fraction shrinks with
    the rarest term's block count; a query containing an absent term
    reports zero blocks and zero scanned postings."""
    return _bm25_boolean_shared(_t(spark, sf_dir, "documents"))[2]

@query(
    "snapshot_delete_compaction",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_custkey % 40 > 7
      UNION ALL
      SELECT o_orderstatus,
             CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS cents
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_custkey % 40 = 3
        AND o_orderkey % 2 = 0
    )
    GROUP BY o_orderstatus
    """,
)
def snapshot_delete_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE-FILE ACCUMULATION then OPTIMIZE — the real Iceberg v2
    pain path (VERDICT r12 item 7): EIGHT delete commits stack
    sequence-scoped delete files on one table (each read then carries
    epoch-grouped anti-joins), a post-delete REINSERT lands corrected
    rows immune to all eight (sequence scoping through the pressure),
    and optimize_snapshot folds everything physically. Asserted
    inline: the pre-optimize version carries all the delete files and
    its read plan contains anti-joins; the post-optimize version has a
    CLEAN delete state and its read plan is a JOIN-FREE single scan
    (the plan-level form of "read cost recovers"); both reads
    aggregate identically. The returned post-optimize aggregate
    hash-matches the oracle's direct survivors+reinserts statement."""
    import shutil
    import tempfile

    from cmsspark_spark.operators import snapshots as SN

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).filter(F.col("o_orderkey") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="snap_dcomp_")
    try:
        table = f"{tmp}/t"
        SN.snapshot_write(
            base.filter(F.col("o_orderkey") % 2 == 0), table,
            mode="append",
        )
        SN.snapshot_write(
            base.filter(F.col("o_orderkey") % 2 == 1), table,
            mode="append",
        )
        for r in range(8):
            SN.snapshot_delete(
                spark,
                table,
                base.filter(F.col("o_custkey") % 40 == r).select(
                    "o_orderkey"
                ),
                ["o_orderkey"],
            )
        reins = base.filter(
            (F.col("o_custkey") % 40 == 3) & (F.col("o_orderkey") % 2 == 0)
        ).withColumn("cents", F.col("cents") + F.lit(7))
        SN.snapshot_write(reins, table, mode="append")

        def agg(df):
            return (
                df.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
            )

        v_pre = SN.list_snapshots(spark, table)[-1]
        pre_meta = SN.read_snapshot_meta(spark, table, v_pre)
        if len(pre_meta.get("delete_files", [])) < 8:
            raise AssertionError(
                "expected >=8 accumulated delete files, got "
                f"{len(pre_meta.get('delete_files', []))}"
            )
        pre_read = SN.read_snapshot(spark, table, v_pre)
        pre_plan = pre_read._jdf.queryExecution().optimizedPlan().toString()
        if "Join" not in pre_plan:
            raise AssertionError(
                "pre-optimize read plan carries no delete anti-join — "
                "the pressure never materialized"
            )
        pre_agg = {tuple(r) for r in agg(pre_read).collect()}

        v_opt = SN.optimize_snapshot(spark, table, n_files=4)
        opt_meta = SN.read_snapshot_meta(spark, table, v_opt)
        if opt_meta.get("delete_files"):
            raise AssertionError("OPTIMIZE left delete state behind")
        post_read = SN.read_snapshot(spark, table, v_opt)
        post_plan = (
            post_read._jdf.queryExecution().optimizedPlan().toString()
        )
        if "Join" in post_plan:
            raise AssertionError(
                "post-optimize read plan still joins — read cost did "
                "not recover"
            )
        out = agg(post_read).localCheckpoint(eager=True)
        if {tuple(r) for r in out.collect()} != pre_agg:
            raise AssertionError(
                "OPTIMIZE changed the table's content"
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

_BOOLNOT_QUERIES = [(0, ["hash", "join"]), (1, ["vector", "scan"])]
_BOOLNOT_EXCLUDE = {0: ["window"], 1: ["customer", "merge"]}
_BOOLNOT_Q_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _BOOLNOT_QUERIES for t in ts
)
_BOOLNOT_EX_SQL = ", ".join(
    f"({qid}, '{t}')"
    for qid, ts in sorted(_BOOLNOT_EXCLUDE.items())
    for t in ts
)


@query(
    "bm25_boolean_not_serve",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    post AS (
      SELECT doc_id AS doc, CAST(len(tk) AS BIGINT) AS dl, t,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, tk, unnest(tk) AS t FROM tok) GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sdl
              FROM tok),
    q(qid, t) AS (VALUES {_BOOLNOT_Q_SQL}),
    ex(qid, t) AS (VALUES {_BOOLNOT_EX_SQL}),
    qn AS (SELECT qid, count(DISTINCT t) AS nt FROM q GROUP BY 1),
    dfb AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM post
      WHERE t IN (SELECT t FROM q) GROUP BY 1
    ),
    cand AS (
      SELECT q.qid, p.doc, q.t,
             ln(1.0 + ((s.n - d.df + 0.5) / (d.df + 0.5)))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + ((0.75 * p.dl) / (s.sdl / s.n)))))
               AS sc
      FROM q JOIN post p USING (t) JOIN dfb d USING (t), stats s
    ),
    ag AS (SELECT qid, doc, count(DISTINCT t) AS c, sum(sc) AS score
           FROM cand GROUP BY 1, 2),
    hits AS (
      SELECT ag.qid, ag.doc, ag.score
      FROM ag JOIN qn USING (qid)
      WHERE ag.c = qn.nt
        AND NOT EXISTS (
          SELECT 1 FROM post px JOIN ex
            ON px.t = ex.t AND ex.qid = ag.qid
          WHERE px.doc = ag.doc
        )
    )
    SELECT qid AS query_id, doc AS doc_id, round(score, 6) AS bm25,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY round(score, 6) DESC, doc) AS rank FROM hits)
    WHERE rank <= 10
    """,
)
def bm25_boolean_not_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUST / MUST-NOT retrieval from the persisted index: conjunctive
    AND over the required terms, then an anti-join of the excluded
    terms' postings drops any doc containing one — the full
    decontamination-lookup shape ("contains the benchmark phrase
    terms, not the disclaimer marker"). Exclusion cost ∝ the excluded
    terms' df (their postings semi-joined to the AND survivors),
    never corpus-sized. Hash-exact against DuckDB's NOT EXISTS
    formulation."""
    from cmsspark_spark.operators import retrieval as R

    d = _t(spark, sf_dir, "documents")

    def _append(idx: str) -> None:
        R.append_bm25_index(d, idx)

    def _serve(idx: str) -> DataFrame:
        return R.bm25_index_boolean_serve(
            spark, idx, _BOOLNOT_QUERIES, exclude=_BOOLNOT_EXCLUDE
        )

    return _serve(_bm25_index_dir(d, "index_boolnot", _append))
