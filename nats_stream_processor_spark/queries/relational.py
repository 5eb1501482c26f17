"""Relational surface (SURVEY.md §2B): scans, joins of every type, hash/sort
aggregation, rollup/cube/grouping sets, window functions, sorts/top-k, set
ops, scalar functions, pivot — all absent from the reference (no join-, agg-
or sort-like code anywhere in /root/reference/src except the metric counts,
SURVEY.md §2B) and expressed here as plain declarative DataFrame programs so
Catalyst supplies pushdown, pruning, join selection and AQE for free.

Cross-engine float discipline: money aggregates go through decimal casts
(operators/relational.py dsum/davg) so Spark's unordered partial aggregation
and DuckDB's single-threaded sums produce bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..operators import similarity as sim
from ..operators.relational import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    topk_per_group,
)
from ..operators.similarity import round6_stable, round6_stable_sql


# ------------------------------------------------------------------ scans


@register(
    "scan_filter_pushdown",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 30
    GROUP BY 1 ORDER BY 1
    """,
    tags=("scan", "filter", "pushdown"),
)
def q_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + projection that must reach the parquet scan (PushedFilters
    shows both predicates; ReadSchema is 3 columns of 11)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_quantity") > 30))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------------ aggregation


@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql("CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))", 'DECIMAL(30,6)')} AS sum_disc_price,
           {dsum_sql("CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))", 'DECIMAL(32,6)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("agg", "partial-final", "tpch-q1"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final hash aggregate. Catalyst
    emits a map-side partial agg, one shuffle on the 2-key group, final agg —
    the exact plan you want at 100 TB (shuffle carries 6 rows/partition).

    The gated spread() sits between the scan and the partial aggregate:
    the decimal sum/avg arithmetic is the CPU-heavy per-row stage here,
    and the driver's single-row-group test files yield a one-task scan
    that would run it serially (measured 1.9 s -> 0.9 s at sf0.1, r15
    optimization round). The explicit 6-column projection keeps the
    round-robin exchange narrow (guide §2.3: project before the
    exchange); at real scale the scan has >= parallelism splits and
    spread() returns the input untouched — plan identity preserved."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        spread(li.filter(F.col("l_shipdate")
                         <= F.lit("2000-09-02").cast("timestamp"))
               .select("l_returnflag", "l_linestatus", "l_quantity",
                       "l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum((price * (F.lit(1) - disc)).cast("decimal(30,6)")), 4)
            .cast("double").alias("sum_disc_price"),
            F.round(F.sum((price * (F.lit(1) - disc) * (F.lit(1) + tax))
                          .cast("decimal(32,6)")), 4)
            .cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct_per_segment",
    oracle=f"""
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_customers, {dsum_sql('c_acctbal')} AS sum_acctbal
    FROM customer GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "distinct"),
)
def q_distinct_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: Catalyst expands to a two-phase plan (distinct
    on (segment, nationkey) then final agg) — no driver-side work."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(DISTINCT l_suppkey) AS exact_supps,
           TRUE AS approx_parts_within_5pct,
           TRUE AS approx_supps_within_5pct
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "approx"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): constant memory per group vs
    the exact expand-and-dedup — the right tool at 100 TB. HLL sketch values
    are engine-specific, so the raw estimates can't be hash-compared; instead
    we emit the exact counts (oracle-checkable) plus a Spark-side assertion
    that the HLL estimate lands within 5% of exact — the oracle emits literal
    TRUE, so an out-of-tolerance sketch flips the boolean and fails the hash.

    Two-level form (r16, guide §2.3/§5): the single groupBy carrying two
    countDistinct columns planned as a 4x Expand of the scan (one replica
    per distinct class) feeding one hash aggregate — at sf0.1 that was the
    slowest registry sweep query (6 s), and repartitioning the expanded
    rows made it WORSE (r15 A/B: 17 s). Instead each column pre-distincts
    per group (partial map-side distinct, no Expand, gated spread() so the
    single-split local scan parallelizes), then counts the survivors;
    approx_count_distinct moves onto the pre-distinct rows, which is
    value-identical because HLL register updates are insertion-idempotent
    (duplicates touch the same register with the same value) and both
    forms ignore nulls — count(col) after distinct == countDistinct(col).
    The two 3-row group branches re-join null-safely (group sets are
    identical by construction; eqNullSafe keeps a NULL group if one ever
    appears, exactly as the single groupBy would)."""
    base = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey")

    def per_col(col: str, exact: str, approx: str) -> DataFrame:
        return (
            spread(base.select("l_returnflag", col))
            .distinct()
            .groupBy("l_returnflag")
            .agg(F.count(col).alias(exact),
                 F.approx_count_distinct(col, 0.01).alias(approx))
        )

    p = per_col("l_partkey", "exact_parts", "approx_parts")
    s = per_col("l_suppkey", "exact_supps", "approx_supps")
    hll = (p.join(s.withColumnRenamed("l_returnflag", "rf_s"),
                  p["l_returnflag"].eqNullSafe(F.col("rf_s")))
           .drop("rf_s"))
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) / F.col(exact) <= F.lit(0.05)
    )
    return (
        hll.select(
            "l_returnflag",
            "exact_parts",
            "exact_supps",
            within("approx_parts", "exact_parts").alias("approx_parts_within_5pct"),
            within("approx_supps", "exact_supps").alias("approx_supps_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 6) AS p25,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS p50,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 6) AS p75,
           round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 6) AS p90,
           count(*) AS n_orders
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont). At 100 TB prefer percentile_approx (GK sketch, bounded
    memory) — kept exact here for oracle comparability. Scalar columns (not
    an array) so the driver's pandas canonicalizer can sort the result."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("round(percentile(o_totalprice, 0.25D), 6)").alias("p25"),
            F.expr("round(percentile(o_totalprice, 0.5D), 6)").alias("p50"),
            F.expr("round(percentile(o_totalprice, 0.75D), 6)").alias("p75"),
            F.expr("round(percentile(o_totalprice, 0.9D), 6)").alias("p90"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_having",
    oracle="""
    SELECT l_partkey, count(*) AS n_lineitems
    FROM lineitem GROUP BY 1 HAVING count(*) >= 45 ORDER BY 1
    """,
    tags=("agg", "having"),
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lineitems"))
        .filter(F.col("n_lineitems") >= 45)
        .orderBy("l_partkey")
    )


# ------------------------------------------------------------------ joins


@register(
    "join_revenue_by_region",
    oracle="""
    SELECT r_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 4)
                AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "inner", "broadcast", "tpch-q5"),
)
def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join. nation/region (and customer at most SFs) are
    broadcast — the fact table never shuffles for the dims; the only real
    shuffle is lineitem⋈orders on orderkey, which AQE can also convert to
    broadcast when the filtered orders side is small."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(rev), 4).cast("double").alias("revenue"),
             F.count("*").alias("n_lineitems"))
        .orderBy("r_name")
    )


@register(
    "join_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql("CAST(l_extendedprice AS DECIMAL(18,2))"
                     " * (1 - CAST(l_discount AS DECIMAL(4,2)))",
                     'DECIMAL(30,6)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    tags=("join", "inner", "topk", "tpch-q3"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> 3-way join -> grouped
    revenue -> global top-10. Both date predicates and the segment filter
    push to the scans (PushedFilters); the filtered customer side is
    broadcast-eligible so the only real shuffle is lineitem x orders on
    orderkey; the final top-10 is TakeOrderedAndProject (per-partition
    heaps, no global sort). Ties broken by l_orderkey so the LIMIT
    boundary is deterministic cross-engine."""
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev.cast("decimal(30,6)")), 4)
             .cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey").limit(10)
    )


@register(
    "join_left_customer_orders",
    oracle=f"""
    SELECT c_mktsegment,
           count(DISTINCT c_custkey) AS n_customers,
           count(o_orderkey) AS n_orders,
           {dsum_sql('o_totalprice')} AS sum_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "left-outer"),
)
def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("sum_totalprice"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_semi_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    tags=("join", "left-semi"),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: EXISTS without materializing the right side —
    shuffle carries only the distinct keys of the filtered orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    tags=("join", "left-anti"),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer_nation_counts",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS k, count(*) AS n_customers
                FROM customer GROUP BY 1),
         sc AS (SELECT s_nationkey AS k, count(*) AS n_suppliers
                FROM supplier GROUP BY 1)
    SELECT coalesce(cc.k, sc.k) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cc FULL OUTER JOIN sc ON cc.k = sc.k
    ORDER BY 1
    """,
    tags=("join", "full-outer"),
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = (table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("k"))
          .agg(F.count("*").alias("n_customers")))
    sc = (table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("k"))
          .agg(F.count("*").alias("n_suppliers")))
    return (
        cc.join(sc, cc.k == sc.k, "full_outer")
        .select(
            F.coalesce(cc.k, sc.k).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_range_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
        ('p0_500', 0.0, 500.0), ('p500_1000', 500.0, 1000.0),
        ('p1000_1500', 1000.0, 1500.0), ('p1500_2000', 1500.0, 2000.0),
        ('p2000_plus', 2000.0, 1e12))
    SELECT band, count(p_partkey) AS n_parts,
           CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail
    FROM bands LEFT JOIN part ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band ORDER BY band
    """,
    tags=("join", "range", "theta", "broadcast-nested-loop"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi (theta) join against a tiny inline dimension — planned
    as BroadcastNestedLoopJoin, the right physical choice when one side is a
    handful of rows; the big side streams through without a shuffle."""
    bands = spark.createDataFrame(
        [("p0_500", 0.0, 500.0), ("p500_1000", 500.0, 1000.0),
         ("p1000_1500", 1000.0, 1500.0), ("p1500_2000", 1500.0, 2000.0),
         ("p2000_plus", 2000.0, 1e12)],
        "band string, lo double, hi double",
    )
    p = table(spark, sf_dir, "part")
    return (
        F.broadcast(bands)
        .join(p, (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi), "left")
        .groupBy("band")
        .agg(F.count("p_partkey").alias("n_parts"),
             dsum("p_retailprice", "decimal(18,2)").alias("sum_retail"))
        .orderBy("band")
    )


# ---------------------------------------------------------------- windows


@register(
    "window_topk_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rn <= 3 ORDER BY c_mktsegment, rn
    """,
    tags=("window", "rank", "topk-per-group"),
)
def q_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: WindowGroupLimit pushes k into the sort, so hot
    groups cost O(n log k) instead of a full per-group sort."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice")
    return (
        topk_per_group(
            joined, ["c_mktsegment"],
            [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_revenue
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "running-agg", "frame"),
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").alias("running_revenue"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lag_daily_orders",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_day, count(*) AS n_orders
        FROM orders GROUP BY 1)
    SELECT order_day, n_orders,
           n_orders - lag(n_orders) OVER (ORDER BY order_day) AS delta_vs_prev,
           lead(n_orders) OVER (ORDER BY order_day) AS next_day_orders
    FROM daily ORDER BY order_day
    """,
    tags=("window", "lag", "lead"),
)
def q_lag_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over an un-partitioned window: fine after the heavy agg has
    collapsed cardinality to ~days; never put an un-partitioned window over
    raw fact rows (single-task sort)."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.orderBy("order_day")
    return (
        daily.select(
            "order_day", "n_orders",
            (F.col("n_orders") - F.lag("n_orders").over(w)).alias("delta_vs_prev"),
            F.lead("n_orders").over(w).alias("next_day_orders"),
        )
        .orderBy("order_day")
    )


# ---------------------------------------------- rollup / cube / grouping


@register(
    "rollup_region_nation",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name) ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    tags=("rollup",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "cube_returnflag_linestatus",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("cube",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(),
                 F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "grouping_sets_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    tags=("grouping-sets", "sql-api"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the SQL entry point (spark.sql over a temp view) alongside
    the DataFrame API used elsewhere."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
    """)


# ------------------------------------------------------- sort / limit


@register(
    "sort_global_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort", "limit", "topk"),
)
def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject: each task keeps a
    k-heap, the driver merges k*tasks rows — no global sort at any scale."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ------------------------------------------------------------- set ops


@register(
    "set_ops_customer_years",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS tag, count(*) AS n FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'either' AS tag, count(*) AS n FROM (SELECT * FROM y95 UNION SELECT * FROM y96)
    UNION ALL
    SELECT 'only_1995' AS tag, count(*) AS n FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    ORDER BY tag
    """,
    tags=("set-ops", "union", "intersect", "except"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    counts = [
        y95.intersect(y96).agg(F.lit("both").alias("tag"), F.count("*").alias("n")),
        y95.union(y96).distinct().agg(F.lit("either").alias("tag"), F.count("*").alias("n")),
        y95.exceptAll(y96).agg(F.lit("only_1995").alias("tag"), F.count("*").alias("n")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("tag")


# ------------------------------------------------------ scalar functions


@register(
    "string_funcs_parts",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           length(p_name) AS name_len,
           substr(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           concat_ws('|', p_brand, p_type) AS brand_type,
           len(regexp_extract_all(lower(p_name), '[a-z0-9]+')) AS n_name_tokens
    FROM part ORDER BY p_partkey
    """,
    tags=("scalar", "string"),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").alias("name_len"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.size(F.regexp_extract_all(F.lower("p_name"), F.lit("[a-z0-9]+"), 0))
            .alias("n_name_tokens"),
        )
        .orderBy("p_partkey")
    )


@register(
    "date_funcs_orders",
    oracle="""
    SELECT year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
           count(*) AS n_orders,
           min(CAST(o_orderdate AS DATE)) AS first_day,
           max(last_day(CAST(o_orderdate AS DATE))) AS month_end,
           min(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)))
             AS min_days_since_epoch
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("scalar", "date"),
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(d).alias("first_day"),
            F.max(F.last_day(d)).alias("month_end"),
            F.min(F.datediff(d, F.lit("1995-01-01").cast("date")))
            .alias("min_days_since_epoch"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "math_null_funcs",
    oracle=f"""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid' ELSE 'high' END AS bal_bucket,
           count(*) AS n_customers,
           round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS sqrt_count,
           {dsum_sql('abs(c_acctbal)', 'DECIMAL(18,2)')} AS sum_abs_bal,
           CAST(min(floor(c_acctbal)) AS BIGINT) AS min_floor,
           CAST(max(ceil(c_acctbal)) AS BIGINT) AS max_ceil,
           count(nullif(c_mktsegment, 'BUILDING')) AS n_not_building
    FROM customer GROUP BY 1 ORDER BY 1
    """,
    tags=("scalar", "math", "case-when", "null"),
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
    )
    return (
        c.groupBy(bucket.alias("bal_bucket"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sqrt(F.count("*").cast("double")), 6).alias("sqrt_count"),
            dsum(F.abs(F.col("c_acctbal")), "decimal(18,2)").alias("sum_abs_bal"),
            F.min(F.floor("c_acctbal")).cast("long").alias("min_floor"),
            F.max(F.ceil("c_acctbal")).cast("long").alias("max_ceil"),
            F.count(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")))
            .alias("n_not_building"),
        )
        .orderBy("bal_bucket")
    )


@register(
    "pivot_event_type_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("pivot",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — avoids the extra distinct-values
    job Spark otherwise runs, which matters when the fact table is 100 TB."""
    ev = table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    cols = [F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ["click", "error", "purchase", "signup", "view"]]
    return piv.select("user_id", *cols).orderBy("user_id")


@register(
    "unpivot_pricing_metrics",
    oracle="""
    WITH a AS (
        SELECT l_returnflag,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(25,6))), 4) AS DOUBLE) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(25,6))), 4) AS DOUBLE) AS sum_price,
               CAST(round(sum(CAST(l_discount AS DECIMAL(25,6))), 4) AS DOUBLE) AS sum_disc
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag, metric, value
    FROM (UNPIVOT a ON sum_qty, sum_price, sum_disc
          INTO NAME metric VALUE value)
    ORDER BY l_returnflag, metric
    """,
    tags=("unpivot",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag aggregates -> long (metric, value)
    rows via the native `DataFrame.unpivot` (Spark's Expand node — one
    pass, no join). The aggregate runs first, so the unpivot touches only
    the tiny grouped result, never the fact table."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )
    return (
        agg.unpivot(["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"],
                    "metric", "value")
        .orderBy("l_returnflag", "metric")
    )


@register(
    "json_extract_events",
    oracle=f"""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           {round6_stable_sql(
               "avg(CAST(json_extract_string(props, '$.k') AS INT))")} AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("scalar", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object on a raw JSON string column (the events.props
    payload) — the schema-on-read path the reference applies to every
    message (F2), here as a relational projection."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).cast("bigint").alias("sum_k"),
            round6_stable(F.avg(k)).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "join_right_orders_customer",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("join", "right-outer"),
)
def q_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@register(
    "window_rank_dense_ntile",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderpriority, rnk LIMIT 400
    """,
    tags=("window", "rank", "dense_rank", "ntile"),
)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over one shared window definition."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority", "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_orderpriority", "rnk")
        .limit(400)
    )


@register(
    "array_map_functions",
    oracle="""
    WITH t AS (SELECT doc_id,
                      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           list_sort(list_distinct(toks))[1] AS first_token,
           list_contains(toks, 'spark') AS has_spark,
           array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), '|')
             AS first3,
           CAST(map(['n', 'u'], [len(toks), len(list_distinct(toks))])['u'][1]
                AS BIGINT) AS map_lookup
    FROM t ORDER BY doc_id
    """,
    tags=("scalar", "array", "map"),
)
def q_array_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + map scalar functions over the token list (size, distinct,
    sort, contains, slice, map construction/lookup) — all JVM-side."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    return (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_unique"),
            F.element_at(F.array_sort(F.array_distinct("toks")), 1)
            .alias("first_token"),
            F.array_contains("toks", "spark").alias("has_spark"),
            F.array_join(F.slice(F.array_sort(F.array_distinct("toks")), 1, 3), "|")
            .alias("first3"),
            F.element_at(
                F.create_map(F.lit("n"), F.size("toks").cast("long"),
                             F.lit("u"), F.size(F.array_distinct("toks")).cast("long")),
                F.lit("u"),
            ).alias("map_lookup"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_extract_coalesce",
    oracle="""
    SELECT doc_id,
           coalesce(nullif(trim(text), ''), source, '') AS extracted,
           CASE WHEN length(trim(coalesce(text, ''))) > 0 THEN 'text'
                WHEN source IS NOT NULL THEN 'source' ELSE 'none' END
             AS extracted_from
    FROM documents ORDER BY doc_id
    """,
    tags=("P1", "coalesce"),
)
def q_text_extract_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1's fallback-chain shape as an oracle-checked query (the real 5-way
    chain over uri/record.text/content/body/message runs in the golden
    tests — documents only carries text+source, so the chain is 2-deep
    here; semantics identical: first non-empty wins)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.coalesce(F.nullif(F.trim("text"), F.lit("")), F.col("source"),
                       F.lit("")).alias("extracted"),
            F.when(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0,
                   "text")
            .when(F.col("source").isNotNull(), "source")
            .otherwise("none").alias("extracted_from"),
        )
        .orderBy("doc_id")
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT r_name AS region,
           count(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    tags=("agg", "collect"),
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): nations per region
    as a sorted CSV. collect_list's arrival order is partition-dependent,
    so the deterministic form is collect_list -> array_sort -> concat_ws —
    the sort happens per GROUP (bounded by group size), not globally.
    Broadcast the 5-row region dim; one shuffle on the group key."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_nations"),
             F.concat_ws(",", F.array_sort(F.collect_list("n_name")))
              .alias("nations_csv"))
        .orderBy("region")
    )


@register(
    "agg_filtered_counts",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           round6_placeholder AS big_share
    FROM orders GROUP BY 1 ORDER BY 1
    """.replace(
        "round6_placeholder",
        "(CAST(floor((count(*) FILTER (WHERE o_totalprice > 150000)"
        " / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6)"),
    tags=("agg", "filtered"),
)
def q_agg_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (the SQL FILTER clause / count_if family):
    conditional counts inside one grouped pass — one scan, one shuffle,
    no self-joins for per-predicate tallies. Spark expresses the same
    thing as count_if / sum(CASE); both compile to a single
    partial+final hash aggregate."""
    o = table(spark, sf_dir, "orders")
    n_big = F.count(F.when(F.col("o_totalprice") > 150000, 1))
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             n_big.alias("n_big"),
             F.count(F.when(F.col("o_orderstatus") == "F", 1))
              .alias("n_finished"),
             round6_stable(n_big / F.count("*").cast("double"))
              .alias("big_share"))
        .orderBy("o_orderpriority")
    )


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey), 6)
             AS pr6,
           round(cume_dist() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey), 6)
             AS cd6
    FROM customer ORDER BY c_mktsegment, c_custkey
    """,
    tags=("window", "percent-rank"),
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist — the distribution-position window
    functions (completes the ranking-family coverage next to
    rank/dense_rank/ntile/row_number). The (rank-1)/(n-1) and
    rank/n ratios are exact int divisions rounded identically in both
    engines; the c_custkey tiebreak makes positions deterministic.
    Partitioned by segment — bounded per-group sort, no global window."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_custkey", "c_mktsegment",
                 F.round(F.percent_rank().over(w), 6).alias("pr6"),
                 F.round(F.cume_dist().over(w), 6).alias("cd6"))
        .orderBy("c_mktsegment", "c_custkey")
    )


@register(
    "window_first_last_value",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           first_value(c_name) OVER w AS poorest,
           last_value(c_name) OVER w AS richest,
           nth_value(c_name, 2) OVER w AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    ORDER BY c_mktsegment, c_custkey
    """,
    tags=("window", "first-last"),
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit unbounded
    frame — the navigation window functions (who is at each end of the
    partition, visible from every row). The UNBOUNDED FOLLOWING frame
    matters: with the default frame last_value degenerates to the
    current row, the classic window-function trap. Deterministic via
    the (c_acctbal, c_custkey) total order."""
    c = table(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy("c_acctbal", "c_custkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        c.select("c_custkey", "c_mktsegment",
                 F.first("c_name").over(w).alias("poorest"),
                 F.last("c_name").over(w).alias("richest"),
                 F.nth_value("c_name", 2).over(w).alias("second_poorest"))
        .orderBy("c_mktsegment", "c_custkey")
    )


# --------------------------------------------- salted (skew-safe) join

_EVENT_FAMILY_SQL = ("CASE WHEN event_type IN ('view', 'click')"
                     " THEN 'engagement' ELSE 'conversion' END")


@register(
    "join_salted_event_family",
    oracle=f"""
    WITH dim AS (SELECT DISTINCT event_type,
                        {_EVENT_FAMILY_SQL} AS family
                 FROM events)
    SELECT d.family, count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN dim d USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "salted", "skew"),
)
def q_join_salted_event_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe dimension join as a value-checked query: events carry a
    5-value join key (event_type), the structurally-skewed shape — at
    100 TB a plain shuffled join would land each key on ONE reduce task.
    The Spark side rides operators/relational.salted_join (scatter the
    fact rows across salt buckets, explode the small dim per bucket);
    salting is purely physical, so the ORACLE is the plain join — same
    result set by construction, which is exactly the property that makes
    salting safe to deploy. (AQE skew splitting handles moderate skew
    on its own; explicit salting is for the celebrity-key case beyond
    what one task can hold.)"""
    from ..operators.relational import salted_join

    e = table(spark, sf_dir, "events")
    dim = e.select(
        "event_type",
        F.when(F.col("event_type").isin("view", "click"), "engagement")
         .otherwise("conversion").alias("family")).distinct()
    joined = salted_join(e.select("event_type", "user_id"),
                         F.broadcast(dim), "event_type")
    return (
        joined.groupBy("family")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
        .orderBy("family")
    )


# --------------------------------- approx-percentile sketch validation


@register(
    "agg_percentile_approx_check",
    oracle=f"""
    WITH p AS (SELECT {sim.round6_stable_sql(
                    'quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50)')}
                      AS e50,
                      {sim.round6_stable_sql(
                    'quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.90)')}
                      AS e90,
                      {sim.round6_stable_sql(
                    'quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99)')}
                      AS e99
               FROM lineitem)
    SELECT * FROM (
        SELECT 50 AS p_pct, e50 AS exact6, TRUE AS approx_ok FROM p
        UNION ALL SELECT 90, e90, TRUE FROM p
        UNION ALL SELECT 99, e99, TRUE FROM p
    ) ORDER BY p_pct
    """,
    tags=("agg", "percentile-approx"),
)
def q_percentile_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production quantile path validated against the exact one:
    percentile_approx (GK sketch — bounded memory, mergeable, the ONLY
    viable percentile at 1e10 rows) next to the exact interpolated
    percentile, with a 5%-relative-tolerance boolean the oracle asserts
    TRUE (the agg_approx_distinct pattern: the sketch result itself is
    engine-specific, its ACCURACY CONTRACT is not). The exact values are
    also emitted and value-checked."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.agg(
        *[sim.round6_stable(
            F.expr(f"percentile(CAST(l_extendedprice AS DOUBLE), "
                   f"{p / 100.0}D)")).alias(f"e{p}")
          for p in (50, 90, 99)],
        *[F.expr(f"approx_percentile(CAST(l_extendedprice AS DOUBLE), "
                 f"{p / 100.0}D, 10000)").alias(f"a{p}")
          for p in (50, 90, 99)])
    rows = [
        agg.select(F.lit(p).alias("p_pct"),
                   F.col(f"e{p}").alias("exact6"),
                   (F.abs(F.col(f"a{p}") - F.col(f"e{p}"))
                    <= 0.05 * F.abs(F.col(f"e{p}"))).alias("approx_ok"))
        for p in (50, 90, 99)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("p_pct")


# --------------------------------------------- latest-per-key compaction

@register(
    "compact_latest_per_key",
    oracle="""
    WITH r AS (SELECT user_id, event_id, event_type, ts,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC)
                        AS rn,
                      CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                        AS n_versions
               FROM events)
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_event_type, ts AS last_ts,
           n_versions - 1 AS n_superseded
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
    tags=("events", "compaction", "upsert"),
)
def q_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key compaction — the CDC/upsert materialization every
    lakehouse MERGE pipeline runs: one row per key, newest version wins
    (ts, then event_id as the deterministic tie-break), with a superseded
    count for compaction accounting. Both window functions share ONE
    partitioning on the key, so the whole operator is a single shuffle —
    at 1e10 keys this is the canonical snapshot-compaction plan (no join
    back to a max-ts subquery, which would shuffle twice)."""
    ev = spread(table(spark, sf_dir, "events"))
    wp = Window.partitionBy("user_id")
    w = wp.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (ev
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_versions", F.count("*").over(wp).cast("bigint"))
            .filter(F.col("rn") == 1)
            .select("user_id",
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.col("ts").alias("last_ts"),
                    (F.col("n_versions") - 1).alias("n_superseded"))
            .orderBy("user_id"))


# --------------------------------------- market share (TPC-H Q8 shape)

MKT_REGION = "ASIA"
MKT_NATION = "NATION_2"


@register(
    "join_market_share",
    oracle=f"""
    WITH rev AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6
                          + 0.5) AS BIGINT) AS rev_micro,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = '{MKT_REGION}')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = '{MKT_NATION}'
                         THEN rev_micro ELSE 0 END) AS BIGINT)
             AS nation_rev_micro,
           CAST(sum(rev_micro) AS BIGINT) AS total_rev_micro,
           {sim.round6_stable_sql(
               "sum(CASE WHEN supp_nation = '" + MKT_NATION + "' "
               "THEN rev_micro ELSE 0 END) "
               "/ CAST(greatest(sum(rev_micro), 1) AS DOUBLE)")}
             AS mkt_share
    FROM rev GROUP BY o_year ORDER BY o_year
    """,
    tags=("relational", "join", "market-share"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share within a regional market by order year (the
    TPC-H Q8 shape): of all lineitem revenue sold to customers in
    {MKT_REGION}, what fraction was supplied from {MKT_NATION}?

    Plan shape: nation/region/supplier are broadcast (dimension tables);
    the only big-big join is lineitem-orders on the order key — one fact
    shuffle; customer joins before the region filter so partition
    pruning and the broadcast-filter cut the fact early. Revenue is
    quantized to int64 micros per row BEFORE aggregation (exact,
    order-independent); the share ratio is formed once per year row."""
    li = spread(table(spark, sf_dir, "lineitem"))
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "supplier")
    cust_region = (c.join(F.broadcast(n),
                          c.c_nationkey == n.n_nationkey)
                   .join(F.broadcast(r.filter(F.col("r_name") == MKT_REGION)),
                         F.col("n_regionkey") == F.col("r_regionkey"))
                   .select("c_custkey"))
    supp_nation = (s.join(F.broadcast(n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("sn_key"))
        .select("s_suppkey", "supp_nation"))
    rev = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(cust_region, o.o_custkey == F.col("c_custkey"))
           .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
           .select(F.year("o_orderdate").cast("int").alias("o_year"),
                   F.floor(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5))
                   .cast("bigint").alias("rev_micro"),
                   "supp_nation"))
    g = rev.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == MKT_NATION,
                     F.col("rev_micro")).otherwise(0))
        .cast("bigint").alias("nation_rev_micro"),
        F.sum("rev_micro").cast("bigint").alias("total_rev_micro"))
    return (g.select(
        "o_year", "nation_rev_micro", "total_rev_micro",
        sim.round6_stable(
            F.col("nation_rev_micro")
            / F.greatest(F.col("total_rev_micro"), F.lit(1)).cast("double"))
        .alias("mkt_share"))
        .orderBy("o_year"))


# --------------------------------------- promo revenue share (Q14 shape)

PROMO_TYPE = "ECONOMY"


@register(
    "join_promo_revenue_share",
    oracle=f"""
    WITH rev AS (
        SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS INT)
                 AS ship_month,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e6
                          + 0.5) AS BIGINT) AS rev_micro,
               p.p_type AS p_type
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT ship_month,
           CAST(sum(CASE WHEN p_type = '{PROMO_TYPE}'
                         THEN rev_micro ELSE 0 END) AS BIGINT)
             AS promo_rev_micro,
           CAST(sum(rev_micro) AS BIGINT) AS total_rev_micro,
           {sim.round6_stable_sql(
               "100.0 * sum(CASE WHEN p_type = '" + PROMO_TYPE + "' "
               "THEN rev_micro ELSE 0 END) "
               "/ CAST(greatest(sum(rev_micro), 1) AS DOUBLE)")}
             AS promo_pct
    FROM rev GROUP BY ship_month ORDER BY ship_month
    """,
    tags=("relational", "join", "promo-share"),
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share per ship month (the TPC-H Q14 shape): the
    percentage of monthly revenue from parts of the promo type. part is
    the broadcast side (a dimension); lineitem takes ONE pass with a
    conditional aggregate — no second scan for the denominator. Revenue
    int64-quantized per row pre-aggregation, ratio formed per month."""
    li = spread(table(spark, sf_dir, "lineitem"))
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
           .select((F.year("l_shipdate") * 100 + F.month("l_shipdate"))
                   .cast("int").alias("ship_month"),
                   F.floor(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5))
                   .cast("bigint").alias("rev_micro"),
                   "p_type"))
    g = rev.groupBy("ship_month").agg(
        F.sum(F.when(F.col("p_type") == PROMO_TYPE, F.col("rev_micro"))
              .otherwise(0)).cast("bigint").alias("promo_rev_micro"),
        F.sum("rev_micro").cast("bigint").alias("total_rev_micro"))
    return (g.select(
        "ship_month", "promo_rev_micro", "total_rev_micro",
        sim.round6_stable(
            100.0 * F.col("promo_rev_micro")
            / F.greatest(F.col("total_rev_micro"), F.lit(1)).cast("double"))
        .alias("promo_pct"))
        .orderBy("ship_month"))


# --------------------------------------- TPC-H Q6 forecast revenue

Q6_YEAR = 1996
Q6_DISC_LO = 0.05
Q6_DISC_HI = 0.07
Q6_MAX_QTY = 24


@register(
    "agg_revenue_q6",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * l_discount * 1e6 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_micro
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR}-01-01'
      AND l_shipdate < TIMESTAMP '{Q6_YEAR + 1}-01-01'
      AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
      AND l_quantity < {Q6_MAX_QTY}
    """,
    tags=("relational", "agg", "tpch-q6"),
)
def q_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): a pure scan-filter-aggregate
    whose entire cost model is predicate pushdown — date range, discount
    band and quantity cap must all reach the parquet scan (plan-asserted
    in test_plan_audit), leaving a map-only partial+final sum. Revenue
    quantized to int64 micros per row."""
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{Q6_YEAR}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q6_YEAR + 1}-01-01")
           .cast("timestamp"))
        & (F.col("l_discount") >= Q6_DISC_LO)
        & (F.col("l_discount") <= Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_MAX_QTY))
    return f.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * F.col("l_discount") * 1e6
                      + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("revenue_micro"))


# --------------------------------------- disjunctive bracket join (Q19)

Q19_BRACKETS = (
    ("Brand#1", 1, 10, 1.0, 11.0),
    ("Brand#2", 1, 15, 10.0, 20.0),
    ("Brand#3", 1, 25, 20.0, 30.0),
)


def _q19_pred_sql() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity >= {qlo} AND l_quantity <= {qhi})"
        for b, slo, shi, qlo, qhi in Q19_BRACKETS)


@register(
    "join_disjunctive_brackets",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_micro
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE {_q19_pred_sql()}
    """,
    tags=("relational", "join", "tpch-q19"),
)
def q_disjunctive_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue over disjunctive (brand, size, quantity)
    brackets — the TPC-H Q19 shape whose whole point is the OR-of-ANDs
    predicate: the optimizer must keep the part dimension broadcast and
    evaluate the disjunction post-join rather than falling back to a
    cartesian or a union of three scans. One fact pass, revenue
    int64-quantized per row, single-row partial+final aggregate."""
    li = spread(table(spark, sf_dir, "lineitem"))
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    pred = None
    for b, slo, shi, qlo, qhi in Q19_BRACKETS:
        c = ((F.col("p_brand") == b)
             & F.col("p_size").between(slo, shi)
             & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi))
        pred = c if pred is None else pred | c
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .filter(pred)
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.sum(F.floor(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 1e6
                               + F.lit(0.5)).cast("bigint"))
                 .cast("bigint").alias("revenue_micro")))


# ------------------------------------- mergeable HLL sketch pipeline

# agg_approx_distinct covers the one-shot approx_count_distinct path;
# this covers the MERGEABLE-sketch workflow that matters at 100 TB:
# build a Datasketches HLL sketch per group once (hll_sketch_agg),
# keep the binary sketches, and answer the global question later by
# UNIONING sketches (hll_union_agg) — never re-scanning raw data. The
# merged row below is computed exclusively from the per-type sketches.
# Sketch binaries and estimates are engine-specific, so (the
# agg_approx_distinct pattern) the output carries exact counts plus
# Spark-side tolerance booleans the oracle pins to literal TRUE.
HLL_LG_K = 14  # datasketches lgConfigK (~0.8% rel. std. error)


@register(
    "agg_hll_sketch_union",
    oracle="""
    WITH per AS (SELECT event_type,
                        CAST(count(DISTINCT user_id) AS BIGINT)
                            AS exact_users
                 FROM events GROUP BY 1)
    SELECT event_type, exact_users, TRUE AS estimate_within_5pct
    FROM per
    UNION ALL
    SELECT '__merged__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS estimate_within_5pct
    FROM events
    ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch", "mergeable"),
)
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: one Datasketches HLL sketch
    per event_type (hll_sketch_agg), per-type estimates checked
    against exact distincts, and a '__merged__' row whose estimate
    comes ONLY from hll_union_agg over the per-type sketches — the
    re-aggregation that answers "distinct users overall" from stored
    per-partition sketches without touching raw events again.

    Scale shape: the sketch build is one partial+final aggregate
    (constant memory per group); the union row re-aggregates |groups|
    sketch binaries, not events; the exact distincts exist only
    because this is an EVAL — production keeps the sketches and drops
    the raw scan."""
    ev = table(spark, sf_dir, "events")
    per = (ev.groupBy("event_type")
           .agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk"),
                F.count_distinct("user_id").cast("bigint")
                .alias("exact_users")))
    ok = (F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact_users"))
          / F.col("exact_users") <= F.lit(0.05))
    rows = per.select("event_type", "exact_users",
                      ok.alias("estimate_within_5pct"))
    gexact = ev.agg(F.count_distinct("user_id").cast("bigint")
                    .alias("exact_users"))
    merged = (per.agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                      .alias("est"))
              .crossJoin(F.broadcast(gexact))
              .select(F.lit("__merged__").alias("event_type"),
                      "exact_users",
                      (F.abs(F.col("est") - F.col("exact_users"))
                       / F.col("exact_users") <= F.lit(0.05))
                      .alias("estimate_within_5pct")))
    return rows.unionByName(merged).orderBy("event_type")


# --------------------------------------- binned interval-overlap join

# The interval-overlap join where NEITHER side fits a broadcast: the
# range-join family here so far rides BroadcastNestedLoopJoin
# (join_range_price_bands) — correct only while one side stays tiny.
# The technique that scales two LARGE interval tables is BINNING:
# explode each interval to the fixed-width time buckets it covers,
# equi-join on the bucket (a plain shuffled hash/sort-merge join),
# de-duplicate pairs that met in several buckets, and keep the exact
# overlap predicate as a residual filter. Join cost becomes
# O(intervals x buckets-per-interval) equi-join rows instead of
# |A| x |B| comparisons. Both interval sets derive from events:
# per-user activity sessions vs per-event-type bursts (gaps-and-
# islands sessionization on both sides, exact microsecond integer
# arithmetic, the events.py session discipline).
#
# SESSIONIZATION SKEW:
# the burst side keys on event_type — cardinality 5 in the fixtures
# and low BY CONSTRUCTION at any scale — so a single gaps-and-islands
# window over raw events would sort ~20% of all event volume in ONE
# task. The scale-safe form is the standard CHUNKED decomposition:
# (1) sessionize within (key, coarse-time-chunk) partitions, so raw
# event volume shuffles and sorts on a composite key with
# |keys| x |chunks| cells; (2) islands that touch a chunk boundary
# (the per-chunk FIRST and LAST islands — interior islands already
# have >= gap on both sides inside their chunk, and anything in
# another chunk is farther away than those in-chunk neighbors, so
# interior islands are final) run a second gaps-and-islands merge
# pass keyed on the bare key — but over AT MOST 2 islands per
# (key, chunk), never raw events. Output is bit-identical to the
# single-pass form (the oracle below stays the single-pass SQL, and
# the plain-Python replication test uses single-pass sessionization).
IOV_USER_GAP_US = 30 * 60 * 1_000_000   # user-session gap: 30 min
IOV_TYPE_GAP_US = 5 * 60 * 1_000_000    # type-burst gap: 5 min
IOV_BUCKET_US = 3_600 * 1_000_000       # 1 h overlap-join buckets
IOV_CHUNK_US = 6 * 3_600 * 1_000_000    # 6 h sessionization chunks (72x gap)


def _sessionize(ev: DataFrame, key: str, gap_us: int,
                out_key: str) -> DataFrame:
    """Single-pass gaps-and-islands sessionization of events keyed on
    ``key``: one row per session with exact-microsecond [start_us,
    end_us]. Windows partition on the bare key — right for
    HIGH-cardinality keys (user_id: volume spreads over all users);
    use :func:`_sessionize_chunked` for low-cardinality keys."""
    w = Window.partitionBy(out_key).orderBy("us")
    return (ev.select(F.col(key).alias(out_key),
                      F.expr("unix_micros(ts)").alias("us"))
            .withColumn("prev", F.lag("us").over(w))
            .withColumn("new_sess",
                        F.when(F.col("prev").isNull()
                               | (F.col("us") - F.col("prev")
                                  >= gap_us), 1).otherwise(0))
            .withColumn("sess", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy(out_key, "sess")
            .agg(F.min("us").alias("start_us"),
                 F.max("us").alias("end_us"))
            .drop("sess"))


def _sessionize_chunked(ev: DataFrame, key: str, gap_us: int,
                        out_key: str, chunk_us: int) -> DataFrame:
    """Two-level gaps-and-islands sessionization for LOW-cardinality
    keys: per-(key, chunk) islands first (raw events never shuffle or
    sort on the bare key), then a boundary-island merge pass whose
    input is bounded by 2 rows per (key, chunk). ``chunk_us`` must be
    >= ``gap_us`` only for efficiency, not correctness — the merge
    pass re-checks every cross-boundary gap with the exact single-pass
    predicate (start - prev_end >= gap_us over time-ordered disjoint
    islands), so the output equals :func:`_sessionize` for ANY chunk
    width. Interior islands are final because their nearest neighbors
    in time are their in-chunk predecessors/successors, already >= gap
    away; consecutive boundary islands of the SAME chunk never merge
    for the same reason, so the merge chain only ever crosses chunk
    boundaries."""
    wc = Window.partitionBy(out_key, "chunk").orderBy("us")
    islands = (ev.select(F.col(key).alias(out_key),
                         F.expr("unix_micros(ts)").alias("us"))
               .withColumn("chunk", F.expr(f"us div {chunk_us}"))
               .withColumn("prev", F.lag("us").over(wc))
               .withColumn("new_sess",
                           F.when(F.col("prev").isNull()
                                  | (F.col("us") - F.col("prev")
                                     >= gap_us), 1).otherwise(0))
               .withColumn("sess", F.sum("new_sess").over(
                   wc.rowsBetween(Window.unboundedPreceding, 0)))
               .groupBy(out_key, "chunk", "sess")
               .agg(F.min("us").alias("start_us"),
                    F.max("us").alias("end_us")))
    wi = Window.partitionBy(out_key, "chunk")
    marked = (islands
              .withColumn("lo", F.min("start_us").over(wi))
              .withColumn("hi", F.max("start_us").over(wi)))
    interior = (marked.filter((F.col("start_us") != F.col("lo"))
                              & (F.col("start_us") != F.col("hi")))
                .select(out_key, "start_us", "end_us"))
    boundary = (marked.filter((F.col("start_us") == F.col("lo"))
                              | (F.col("start_us") == F.col("hi")))
                .select(out_key, "start_us", "end_us"))
    wb = Window.partitionBy(out_key).orderBy("start_us")
    merged = (boundary
              .withColumn("prev_end", F.lag("end_us").over(wb))
              .withColumn("new_grp",
                          F.when(F.col("prev_end").isNull()
                                 | (F.col("start_us") - F.col("prev_end")
                                    >= gap_us), 1).otherwise(0))
              .withColumn("grp", F.sum("new_grp").over(
                  wb.rowsBetween(Window.unboundedPreceding, 0)))
              .groupBy(out_key, "grp")
              .agg(F.min("start_us").alias("start_us"),
                   F.max("end_us").alias("end_us"))
              .drop("grp"))
    return interior.unionByName(merged)


def _sessions_sql(key: str, gap_us: int, out_key: str) -> str:
    """DuckDB gaps-and-islands sessionization of events keyed on
    ``key``: one row per session with [start_us, end_us]."""
    return f"""
        SELECT {key} AS {out_key},
               min(us) AS start_us, max(us) AS end_us
        FROM (SELECT {key}, us,
                     sum(CASE WHEN prev IS NULL
                               OR us - prev >= {gap_us}
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY {key} ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sess
              FROM (SELECT {key}, epoch_us(ts) AS us,
                           lag(epoch_us(ts))
                               OVER (PARTITION BY {key} ORDER BY ts)
                               AS prev
                    FROM events))
        GROUP BY {out_key}, sess"""


@register(
    "join_interval_overlap_binned",
    oracle=f"""
    WITH us AS ({_sessions_sql('user_id', IOV_USER_GAP_US, 'user_id')}),
    tb AS ({_sessions_sql('event_type', IOV_TYPE_GAP_US, 'event_type')}),
    ua AS (SELECT user_id, start_us, end_us,
                  unnest(range(start_us // {IOV_BUCKET_US},
                               end_us // {IOV_BUCKET_US} + 1)) AS bucket
           FROM us),
    tba AS (SELECT event_type, start_us, end_us,
                   unnest(range(start_us // {IOV_BUCKET_US},
                                end_us // {IOV_BUCKET_US} + 1)) AS bucket
            FROM tb),
    pairs AS (SELECT DISTINCT a.user_id, a.start_us AS us_start,
                     b.event_type, b.start_us AS tb_start
              FROM ua a JOIN tba b ON a.bucket = b.bucket
              WHERE a.start_us <= b.end_us AND b.start_us <= a.end_us),
    nb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_bursts
           FROM tb GROUP BY 1)
    SELECT nb.event_type, nb.n_bursts,
           -- FILTER guards the LEFT-JOIN-miss branch: DuckDB counts the
           -- all-NULL struct as one distinct value where Spark's
           -- count_distinct(user_id, us_start) yields 0 (a burst type
           -- with zero overlapping sessions must report 0 on BOTH
           -- engines, though no fixture reaches the branch today).
           CAST(count(DISTINCT (p.user_id, p.us_start))
                    FILTER (WHERE p.us_start IS NOT NULL) AS BIGINT)
               AS n_overlapping_user_sessions,
           CAST(count(p.us_start) AS BIGINT) AS n_overlap_pairs
    FROM nb LEFT JOIN pairs p ON p.event_type = nb.event_type
    GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("join", "interval", "binned", "events"),
)
def q_interval_overlap_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via bucket binning: per-user activity
    sessions (30 min gap) against per-event-type bursts (5 min gap),
    overlap pairs found by exploding both interval sets onto 1-hour
    buckets and EQUI-joining on the bucket — the shape that scales
    when neither interval table can broadcast — with the exact overlap
    predicate as a residual filter and a distinct() collapsing pairs
    that met in several buckets. Reports, per event type: burst count,
    distinct user sessions overlapping any burst, and total overlap
    pairs.

    Scale shape: the user side sessionizes with one lag + running-sum
    window hash-partitioned on user_id (high cardinality — volume
    spreads); the burst side keys on LOW-cardinality event_type, so it
    uses the two-level chunked decomposition (_sessionize_chunked):
    raw events window on (event_type, 6 h chunk) — plan-asserted —
    and only per-chunk boundary islands (<= 2 per chunk per type)
    ride the bare-key merge pass. The join is a plain shuffled
    equi-join on int buckets (NO nested loop, NO broadcast of a big
    side — plan-asserted); bucket explosion is bounded by interval
    length / bucket width. All times are exact integer microseconds
    (unix_micros / epoch_us — the events.py discipline)."""
    ev = table(spark, sf_dir, "events")
    us = _sessionize(ev, "user_id", IOV_USER_GAP_US, "user_id")
    tb = _sessionize_chunked(ev, "event_type", IOV_TYPE_GAP_US,
                             "event_type", IOV_CHUNK_US)

    def binned(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(F.sequence(
                F.expr(f"start_us div {IOV_BUCKET_US}"),
                F.expr(f"end_us div {IOV_BUCKET_US}"))))

    a = binned(us).select("user_id",
                          F.col("start_us").alias("us_start"),
                          F.col("end_us").alias("us_end"), "bucket")
    b = binned(tb).select("event_type",
                          F.col("start_us").alias("tb_start"),
                          F.col("end_us").alias("tb_end"), "bucket")
    pairs = (a.join(b, "bucket")
             .filter((F.col("us_start") <= F.col("tb_end"))
                     & (F.col("tb_start") <= F.col("us_end")))
             .select("user_id", "us_start", "event_type", "tb_start")
             .distinct())
    nb = tb.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_bursts"))
    return (nb.join(pairs, "event_type", "left")
            .groupBy("event_type", "n_bursts")
            .agg(F.count_distinct("user_id", "us_start").cast("bigint")
                 .alias("n_overlapping_user_sessions"),
                 F.count("us_start").cast("bigint")
                 .alias("n_overlap_pairs"))
            .orderBy("event_type"))


# --------------------------- incremental aggregate maintenance (IVM)


# The watermark splitting base from delta. Mid-range for the orders
# table's 1995..2001 span, so both sides are substantial at every SF.
IVM_WATERMARK = "1998-01-01"


@register(
    "ivm_agg_delta",
    oracle=f"""
    WITH flagged AS (SELECT o_orderpriority,
                            o_orderdate >= TIMESTAMP '{IVM_WATERMARK}'
                                AS is_delta,
                            o_totalprice
                     FROM orders),
    part AS (SELECT o_orderpriority, is_delta,
                    CAST(count(*) AS BIGINT) AS pn,
                    sum(CAST(o_totalprice AS DECIMAL(25,6))) AS ps
             FROM flagged GROUP BY o_orderpriority, is_delta),
    merged AS (SELECT o_orderpriority,
                      CAST(sum(CASE WHEN NOT is_delta THEN pn
                                    ELSE 0 END) AS BIGINT) AS n_base,
                      CAST(sum(CASE WHEN is_delta THEN pn
                                    ELSE 0 END) AS BIGINT) AS n_delta,
                      CAST(sum(pn) AS BIGINT) AS n_total,
                      CAST(round(sum(ps), 4) AS DOUBLE) AS revenue_total
               FROM part GROUP BY o_orderpriority),
    full_agg AS (SELECT o_orderpriority,
                        CAST(count(*) AS BIGINT) AS fn,
                        {dsum_sql('o_totalprice')} AS fs
                 FROM orders GROUP BY o_orderpriority)
    SELECT m.o_orderpriority, m.n_base, m.n_delta, m.n_total,
           m.revenue_total,
           (m.n_total = f.fn AND m.revenue_total = f.fs)
               AS merged_eq_full
    FROM merged m JOIN full_agg f USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
    tags=("relational", "ivm", "incremental", "mergeable"),
)
def q_ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: maintain a per-priority order
    count + revenue aggregate by MERGING a pre-watermark base partial
    with a post-watermark delta partial, and prove the maintained
    result equals a full recompute — one row per priority with both
    sides' contributions and the equality flag (TRUE is a theorem
    here, not a tolerance: counts are integers and the revenue sums
    ride the package's exact-decimal discipline, so partial-merge ==
    direct is order-independent arithmetic).

    This is the pattern that makes a 100 TB nightly aggregate a
    delta-sized job: persist the base partial once, aggregate only the
    new partition each day, and ADD — the same mergeable-summary
    algebra as events_moments_merge, applied to the relational
    surface. The full recompute here exists only as the in-query
    proof; a production run ships the merged row.

    Scale shape: one scan computes per-(priority, is_delta) partials
    map-side (partial+final hash aggregate, 10 groups); the merge is
    an aggregate over those 10 rows; the proof side is a second
    partial+final aggregate joined on the 5-row priority key. No
    window, no per-row state, shuffles carry group keys only."""
    o = table(spark, sf_dir, "orders")
    flagged = o.select(
        "o_orderpriority",
        (F.col("o_orderdate") >= F.lit(IVM_WATERMARK).cast("timestamp"))
        .alias("is_delta"),
        "o_totalprice")
    part = (flagged.groupBy("o_orderpriority", "is_delta")
            .agg(F.count("*").cast("long").alias("pn"),
                 F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                  .alias("ps")))
    merged = (part.groupBy("o_orderpriority")
              .agg(F.sum(F.when(~F.col("is_delta"), F.col("pn"))
                         .otherwise(F.lit(0))).cast("long").alias("n_base"),
                   F.sum(F.when(F.col("is_delta"), F.col("pn"))
                         .otherwise(F.lit(0))).cast("long").alias("n_delta"),
                   F.sum("pn").cast("long").alias("n_total"),
                   F.round(F.sum("ps"), 4).cast("double")
                    .alias("revenue_total")))
    full_agg = (o.groupBy("o_orderpriority")
                .agg(F.count("*").cast("long").alias("fn"),
                     dsum("o_totalprice").alias("fs")))
    return (merged.join(full_agg, "o_orderpriority")
            .select("o_orderpriority", "n_base", "n_delta", "n_total",
                    "revenue_total",
                    ((F.col("n_total") == F.col("fn"))
                     & (F.col("revenue_total") == F.col("fs")))
                    .alias("merged_eq_full"))
            .orderBy("o_orderpriority"))


# ------------------------------------- SCD2 history build (changelog)

# The warehouse-maintenance face of gaps-and-islands: fold an event
# changelog into a type-2 slowly-changing-dimension history — one
# validity interval per run of consecutive equal states per key, with
# half-open [valid_from, valid_to) bounds and an is_current marker.
# This is how a 100 TB event log becomes a point-in-time-joinable
# dimension table (the asof_join_* operators consume exactly this
# shape). State here is the event_type; versioning is the classic
# lag-compare -> running change count, all inside per-user windows
# whose partition mass is one user's history (the per-key license
# every sessionization operator in the package uses). BOTH window
# passes order by (us, event_id) on BOTH engines — the running change
# count included — so two events in the same microsecond with a state
# flip version deterministically (the r11 advice item: an oracle `ver`
# ordered by us alone would tie-break arbitrarily there). Bounds are
# exact integer microseconds (the epoch_us/unix_micros discipline).
# The user_id % 10 filter bounds the CHECKED subset (pushed to the
# scan); a production build emits all keys — nothing in the plan
# depends on the filter.


@register(
    "scd2_build_intervals",
    oracle="""
    WITH ev AS (SELECT user_id, event_id, event_type AS state,
                       epoch_us(ts) AS us
                FROM events WHERE user_id % 10 = 0),
    chg AS (SELECT user_id, event_id, state, us,
                   CASE WHEN lag(state) OVER w IS NULL
                             OR state <> lag(state) OVER w
                        THEN 1 ELSE 0 END AS is_chg
            FROM ev WINDOW w AS (PARTITION BY user_id
                                 ORDER BY us, event_id)),
    ver AS (SELECT user_id, state, us,
                   sum(is_chg) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS version
            FROM chg),
    runs AS (SELECT user_id, CAST(version AS BIGINT) AS version,
                    min(state) AS state,
                    min(us) AS valid_from_us,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM ver GROUP BY user_id, version)
    SELECT user_id, version, state, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to_us,
           n_events,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) IS NULL
               AS is_current
    FROM runs ORDER BY user_id, version
    """,
    tags=("events", "scd2", "gaps-and-islands", "warehouse"),
)
def q_scd2_build_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from the event changelog (module comment
    above): one row per (user, state-run) with the version number,
    the state, exact-microsecond half-open validity bounds
    ([valid_from_us, valid_to_us); NULL valid_to_us = current), the
    event count backing the version, and the is_current flag.

    Scale shape: one scan (the key filter reaches the parquet scan),
    two per-user window passes (lag-compare and the running change
    count — Catalyst fuses them into one sort per partition spec) and
    one per-(user, version) aggregate; the final lead() rides a
    per-user window over VERSION rows, already collapsed. Every
    partition's mass is a single key's history; the shuffles carry
    (user, state, us) triples."""
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id") % 10 == 0)
          .select("user_id", "event_id",
                  F.col("event_type").alias("state"),
                  F.expr("unix_micros(ts)").alias("us")))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = ev.withColumn(
        "is_chg",
        F.when(F.lag("state").over(w).isNull()
               | (F.col("state") != F.lag("state").over(w)), 1)
        .otherwise(0))
    wv = (Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ver = chg.withColumn("version", F.sum("is_chg").over(wv))
    runs = (ver.groupBy("user_id",
                        F.col("version").cast("long").alias("version"))
            .agg(F.min("state").alias("state"),
                 F.min("us").alias("valid_from_us"),
                 F.count("*").cast("long").alias("n_events")))
    wl = Window.partitionBy("user_id").orderBy("version")
    return (runs
            .withColumn("valid_to_us",
                        F.lead("valid_from_us").over(wl))
            .select("user_id", "version", "state", "valid_from_us",
                    "valid_to_us", "n_events",
                    F.col("valid_to_us").isNull().alias("is_current"))
            .orderBy("user_id", "version"))


# --------------------------- join-size estimation report (optimizer)

# The cardinality-estimation discipline a query optimizer (and any
# engineer sizing a 100 TB join) applies, surfaced as a first-class
# report: for each profiled join, the sides' row counts and key NDVs,
# the textbook uniform-assumption estimate |R ⋈ S| ≈ |R|·|S| /
# max(ndv_R, ndv_S), the ACTUAL join cardinality, and the signed
# estimation error in ppm. Integer-exact end to end (counts, NDVs and
# the div-based estimate), so the report hash-compares — and the error
# column is the data-dependent signal: TPC-H-ish foreign keys are
# near-uniform (small error), while skewed joins would blow the
# estimate up, which is exactly what the report exists to expose
# before the optimizer finds out at runtime. Magnitude discipline
# (r11 advice item): |R|·|S| overflows int64 already at ~3e9 rows per
# side, and Spark's non-ANSI multiply would WRAP silently where DuckDB
# raises — so the product is computed WIDE on both engines (Spark
# decimal(38,0), DuckDB HUGEINT; both `div`/`//` truncate toward zero,
# tests/test_engine_semantics.py) and only the QUOTIENT is narrowed to
# int64. License for the narrowing: est_uniform <= max(|R|,|S|) ·
# (min(|R|,|S|) / max(ndv)) — a per-key fan-out times a side count —
# and err_ppm <= est/actual · 1e6; both exceed int64 only in regimes
# (a 9e18-row join estimate, a 9e12-fold misestimate) where the report
# is saturated noise anyway.
JSE_JOINS = (
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _jse_oracle() -> str:
    arms = []
    for name, lt, lk, rt, rk in JSE_JOINS:
        est = "(CAST(l.n AS HUGEINT) * r.n) // greatest(l.ndv, r.ndv)"
        arms.append(f"""
    SELECT '{name}' AS join_name,
           l.n AS n_left, l.ndv AS ndv_left,
           r.n AS n_right, r.ndv AS ndv_right,
           CAST({est} AS BIGINT) AS est_uniform,
           a.actual,
           CAST((({est} - a.actual) * 1000000) // a.actual AS BIGINT)
               AS err_ppm
    FROM (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT {lk}) AS BIGINT) AS ndv
          FROM {lt} WHERE {lk} IS NOT NULL) l,
         (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT {rk}) AS BIGINT) AS ndv
          FROM {rt} WHERE {rk} IS NOT NULL) r,
         (SELECT CAST(count(*) AS BIGINT) AS actual
          FROM {lt} JOIN {rt} ON {rt}.{rk} = {lt}.{lk}) a""")
    return ("SELECT * FROM (" + " UNION ALL ".join(arms)
            + ") ORDER BY join_name")


@register(
    "join_size_estimate_report",
    oracle=_jse_oracle(),
    tags=("relational", "optimizer", "cardinality-estimation"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation report (module comment above): one
    row per profiled join with side row counts, key NDVs, the
    uniform-assumption size estimate, the actual join size, and the
    signed error in ppm.

    Scale shape: per join, two single-pass partial+final aggregates
    (count + distinct on the key — production swaps the exact NDV for
    approx_count_distinct or a stored HLL with the same plan shape)
    and one key-equi-join count; the three 1-row summaries cross-join
    broadcast-style into the report. Integer `div` arithmetic keeps
    the estimate and the ppm error engine-exact."""
    out = None
    for name, lt, lk, rt, rk in JSE_JOINS:
        ldf = table(spark, sf_dir, lt).filter(F.col(lk).isNotNull())
        rdf = table(spark, sf_dir, rt).filter(F.col(rk).isNotNull())
        l_ = ldf.agg(F.count("*").cast("long").alias("n_left"),
                     F.count_distinct(F.col(lk)).cast("long")
                     .alias("ndv_left"))
        r_ = rdf.agg(F.count("*").cast("long").alias("n_right"),
                     F.count_distinct(F.col(rk)).cast("long")
                     .alias("ndv_right"))
        a_ = (ldf.select(F.col(lk).alias("k"))
              .join(rdf.select(F.col(rk).alias("k")), "k")
              .agg(F.count("*").cast("long").alias("actual")))
        # wide product, narrow quotient (module comment above): the
        # decimal(38,0) product cannot wrap; `div` truncates toward
        # zero exactly like the oracle's HUGEINT `//`
        est = ("(cast(n_left as decimal(38,0)) * n_right)"
               " div greatest(ndv_left, ndv_right)")
        row = (l_.crossJoin(F.broadcast(r_)).crossJoin(F.broadcast(a_))
               .select(
                   F.lit(name).alias("join_name"),
                   "n_left", "ndv_left", "n_right", "ndv_right",
                   F.expr(est).alias("est_uniform"),
                   "actual",
                   F.expr(f"(cast(({est}) - actual as decimal(38,0))"
                          " * 1000000) div actual").alias("err_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_name")


# ----------------------- SCD2 point-in-time join (consume the history)

# scd2_build_intervals BUILDS the type-2 history; this is
# the consuming half — the point-in-time (PIT) join every feature
# store / temporal warehouse runs: enrich a fact row with the
# dimension state that was valid AT the fact's timestamp (us >=
# valid_from AND (us < valid_to OR current)). Probing the history
# with the very events that built it yields two THEOREMS the report
# surfaces per user: every probe matches exactly one interval (the
# half-open intervals partition [first_event, inf) per key), and the
# matched state equals the probe's own event type (an event belongs
# to the run it created) — both recomputed, not assumed, on both
# engines.


def _scd2_pit_oracle() -> str:
    hist = REGISTRY["scd2_build_intervals"].oracle
    return f"""
    WITH hist AS ({hist}),
    probe AS (SELECT user_id, event_id, event_type AS pstate,
                     epoch_us(ts) AS us
              FROM events WHERE user_id % 10 = 0),
    m AS (SELECT p.user_id, p.event_id, p.pstate, h.state
          FROM probe p JOIN hist h
            ON h.user_id = p.user_id
               AND p.us >= h.valid_from_us
               AND (h.valid_to_us IS NULL OR p.us < h.valid_to_us)),
    per AS (SELECT user_id, event_id, min(pstate) AS pstate,
                   CAST(count(*) AS BIGINT) AS n_matches,
                   min(state) AS state
            FROM m GROUP BY user_id, event_id)
    SELECT pr.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(per.event_id) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN per.n_matches = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique_match,
           CAST(sum(CASE WHEN per.state = per.pstate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_state_consistent,
           (count(*) = count(per.event_id)
            AND count(*) = sum(CASE WHEN per.n_matches = 1
                                    THEN 1 ELSE 0 END)
            AND count(*) = sum(CASE WHEN per.state = per.pstate
                                    THEN 1 ELSE 0 END)) AS all_consistent
    FROM probe pr LEFT JOIN per
      ON per.user_id = pr.user_id AND per.event_id = pr.event_id
    GROUP BY pr.user_id
    ORDER BY pr.user_id
    """


@register(
    "scd2_point_in_time_join",
    oracle=None,  # set below (embeds the scd2 builder's oracle)
    tags=("events", "scd2", "point-in-time", "temporal-join"),
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 history (module comment
    above): one row per probed user with the probe count, how many
    probes matched an interval, how many matched EXACTLY one, how many
    got back their own state, and the conjunction — TRUE everywhere by
    the partition/self-consistency theorems.

    Scale shape: the history build is the certified scd2 plan; the PIT
    join is an equi-join on user_id with the validity range as a join
    filter — per-key candidate mass is (user's events x user's
    versions), the per-key license, and a corpus with heavy keys
    swaps in the time-chunk binning the interval-overlap join
    uses (join_interval_overlap_binned) with the same downstream shape; the report
    is a partial+final aggregate onto user keys."""
    hist = pin(REGISTRY["scd2_build_intervals"].fn.__wrapped__(
        spark, sf_dir))
    probe = (table(spark, sf_dir, "events")
             .filter(F.col("user_id") % 10 == 0)
             .select("user_id", "event_id",
                     F.col("event_type").alias("pstate"),
                     F.expr("unix_micros(ts)").alias("us")))
    h = hist.select("user_id", "state", "valid_from_us", "valid_to_us")
    m = (probe.join(h, "user_id")
         .filter((F.col("us") >= F.col("valid_from_us"))
                 & (F.col("valid_to_us").isNull()
                    | (F.col("us") < F.col("valid_to_us")))))
    per = (m.groupBy("user_id", "event_id")
           .agg(F.min("pstate").alias("pstate"),
                F.count("*").cast("long").alias("n_matches"),
                F.min("state").alias("state")))
    joined = probe.join(per.withColumnRenamed("pstate", "mstate_p"),
                        ["user_id", "event_id"], "left")
    agg = (joined.groupBy("user_id")
           .agg(F.count("*").cast("long").alias("n_events"),
                F.count("n_matches").cast("long").alias("n_matched"),
                F.sum(F.when(F.col("n_matches") == 1, 1).otherwise(0))
                 .cast("long").alias("n_unique_match"),
                F.sum(F.when(F.col("state") == F.col("mstate_p"), 1)
                      .otherwise(0)).cast("long")
                 .alias("n_state_consistent")))
    return (agg.select(
        "user_id", "n_events", "n_matched", "n_unique_match",
        "n_state_consistent",
        ((F.col("n_events") == F.col("n_matched"))
         & (F.col("n_events") == F.col("n_unique_match"))
         & (F.col("n_events") == F.col("n_state_consistent")))
        .alias("all_consistent"))
        .orderBy("user_id"))


def _render_scd2_pit_oracle() -> None:
    REGISTRY["scd2_point_in_time_join"].oracle = _scd2_pit_oracle()


_render_scd2_pit_oracle()


# --------------------- incremental SCD2 maintenance (IVM x warehouse)

# ivm_agg_delta proves base-partial + delta-partial == full recompute
# for AGGREGATES; this operator proves the same maintenance law for the
# SCD2 HISTORY BUILD — the nightly warehouse job that matters at
# 100 TB, where rebuilding a type-2 dimension from the full changelog
# every day is exactly the cost incremental apply exists to avoid. The
# changelog splits at a deterministic mid-range watermark (integer
# microsecond (min+max) div 2 over the checked keys, the same `div`
# pin as everywhere); the BASE history is the certified scd2 run fold
# over pre-cut events, and the delta applies WITHOUT touching closed
# versions: the only base row that can change is each user's OPEN run
# — if the delta's first run continues the same state it MERGES
# (n_events adds, valid_from keeps — the run that straddled the cut is
# rejoined exactly), otherwise the open run closes at the delta's
# first timestamp; later delta runs append with continued version
# numbers, and brand-new users start at version 1. Validity bounds
# re-derive from one per-user lead over the ASSEMBLED version rows
# (closed rows' bounds provably unchanged: their successor's
# valid_from is already fixed). The in-query theorem: the assembled
# incremental history equals the full rebuild row-for-row on every
# column — recomputed, not assumed, on both engines (the full rebuild
# exists only as the proof side; a production job ships the merge).


def _scd2_runs_ctes(tag: str, where: str) -> str:
    """ev/chg/ver/runs chain (the certified scd2_build_intervals fold)
    over `events` restricted by `where`, CTE names suffixed by `tag`;
    ends in runs{tag}(user_id, version, state, valid_from_us,
    n_events) with versions starting at 1 per user."""
    return f"""
    ev{tag} AS (SELECT user_id, event_id, event_type AS state,
                       epoch_us(ts) AS us
                FROM events WHERE user_id % 10 = 0{where}),
    chg{tag} AS (SELECT user_id, event_id, state, us,
                   CASE WHEN lag(state) OVER w IS NULL
                             OR state <> lag(state) OVER w
                        THEN 1 ELSE 0 END AS is_chg
            FROM ev{tag} WINDOW w AS (PARTITION BY user_id
                                      ORDER BY us, event_id)),
    ver{tag} AS (SELECT user_id, state, us,
                   sum(is_chg) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS version
            FROM chg{tag}),
    runs{tag} AS (SELECT user_id, CAST(version AS BIGINT) AS version,
                    min(state) AS state,
                    min(us) AS valid_from_us,
                    CAST(count(*) AS BIGINT) AS n_events
             FROM ver{tag} GROUP BY user_id, version)"""


def _scd2_inc_oracle() -> str:
    hist = """SELECT user_id, version, state, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) AS valid_to_us,
           n_events,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY version) IS NULL
               AS is_current
    FROM {src}"""
    return f"""
    WITH cutq AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
                      AS cut
                  FROM events WHERE user_id % 10 = 0),
    {_scd2_runs_ctes('b', ' AND epoch_us(ts) < (SELECT cut FROM cutq)')},
    {_scd2_runs_ctes('d', ' AND epoch_us(ts) >= (SELECT cut FROM cutq)')},
    {_scd2_runs_ctes('f', '')},
    vmax AS (SELECT user_id, CAST(max(version) AS BIGINT) AS vmax
             FROM runsb GROUP BY user_id),
    opn AS (SELECT r.* FROM runsb r JOIN vmax m
              ON m.user_id = r.user_id AND r.version = m.vmax),
    firstd AS (SELECT * FROM runsd WHERE version = 1),
    closed AS (SELECT r.user_id, r.version, r.state, r.valid_from_us,
                      r.n_events
               FROM runsb r JOIN vmax m
                 ON m.user_id = r.user_id AND r.version < m.vmax),
    open_adj AS (SELECT o.user_id, o.version, o.state, o.valid_from_us,
                        o.n_events
                        + CASE WHEN f.user_id IS NOT NULL
                                    AND f.state = o.state
                               THEN f.n_events ELSE 0 END AS n_events
                 FROM opn o LEFT JOIN firstd f
                   ON f.user_id = o.user_id),
    tail AS (SELECT d.user_id,
                    CASE WHEN o.user_id IS NULL THEN d.version
                         WHEN f.state = o.state
                              THEN o.version + d.version - 1
                         ELSE o.version + d.version END AS version,
                    d.state, d.valid_from_us, d.n_events
             FROM runsd d
                  LEFT JOIN opn o ON o.user_id = d.user_id
                  LEFT JOIN firstd f ON f.user_id = d.user_id
             WHERE o.user_id IS NULL
                   OR d.version >= CASE WHEN f.state = o.state
                                        THEN 2 ELSE 1 END),
    assembled AS (SELECT * FROM closed
                  UNION ALL SELECT * FROM open_adj
                  UNION ALL SELECT * FROM tail),
    inc AS ({hist.format(src='assembled')}),
    full_h AS ({hist.format(src='runsf')}),
    cmp AS (SELECT coalesce(i.user_id, f.user_id) AS user_id,
                   CASE WHEN i.user_id IS NOT NULL
                             AND f.user_id IS NOT NULL
                             AND i.state = f.state
                             AND i.valid_from_us = f.valid_from_us
                             AND i.valid_to_us IS NOT DISTINCT FROM
                                 f.valid_to_us
                             AND i.n_events = f.n_events
                             AND i.is_current = f.is_current
                        THEN 0 ELSE 1 END AS mism
            FROM inc i FULL OUTER JOIN full_h f
              ON f.user_id = i.user_id AND f.version = i.version),
    nd AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_delta_events
           FROM evd GROUP BY user_id),
    per AS (SELECT i.user_id,
                   CAST(count(*) AS BIGINT) AS n_versions,
                   CAST(sum(CASE WHEN NOT i.is_current THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_closed
            FROM inc i GROUP BY i.user_id)
    SELECT p.user_id, p.n_versions, p.n_closed,
           CAST(coalesce(nd.n_delta_events, 0) AS BIGINT)
               AS n_delta_events,
           CAST(sum(c.mism) AS BIGINT) = 0 AS inc_eq_full
    FROM per p LEFT JOIN nd ON nd.user_id = p.user_id
               JOIN cmp c ON c.user_id = p.user_id
    GROUP BY p.user_id, p.n_versions, p.n_closed, nd.n_delta_events
    ORDER BY p.user_id
    """


def _runs_df(ev: DataFrame) -> DataFrame:
    """Spark twin of _scd2_runs_ctes' fold: (user_id, version, state,
    valid_from_us, n_events) from an (user_id, event_id, state, us)
    frame — the certified scd2_build_intervals body minus the final
    bounds pass."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = ev.withColumn(
        "is_chg",
        F.when(F.lag("state").over(w).isNull()
               | (F.col("state") != F.lag("state").over(w)), 1)
        .otherwise(0))
    wv = (Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ver = chg.withColumn("version", F.sum("is_chg").over(wv))
    return (ver.groupBy("user_id",
                        F.col("version").cast("long").alias("version"))
            .agg(F.min("state").alias("state"),
                 F.min("us").alias("valid_from_us"),
                 F.count("*").cast("long").alias("n_events")))


def _hist_df(runs: DataFrame) -> DataFrame:
    """Validity bounds + is_current from version rows (one per-user
    lead over already-collapsed rows — the certified final pass)."""
    from pyspark.sql import Window
    wl = Window.partitionBy("user_id").orderBy("version")
    return (runs.withColumn("valid_to_us",
                            F.lead("valid_from_us").over(wl))
            .select("user_id", "version", "state", "valid_from_us",
                    "valid_to_us", "n_events",
                    F.col("valid_to_us").isNull().alias("is_current")))


@register(
    "scd2_incremental_apply",
    oracle=None,  # set below
    tags=("events", "scd2", "ivm", "incremental", "warehouse"),
)
def q_scd2_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 apply proven equal to the full rebuild (module
    comment above): one row per user with the incremental history's
    version count, its closed-version count, the delta event count
    folded in, and the per-user theorem flag — TRUE everywhere, by the
    run-algebra argument (only the open run can change; a cut-straddling
    run rejoins exactly by n_events addition).

    Scale shape: three run folds (base / delta / proof-side full), each
    the certified per-user-window scd2 plan with the key filter at the
    scan; the apply layer is id-keyed joins over VERSION rows (already
    collapsed — per-user mass is a user's version count, orders of
    magnitude below events); the theorem rides one full-outer join on
    (user, version) summary rows. A production job runs base once,
    persists it, and pays only the delta fold + the id-keyed merge per
    night — the full rebuild here exists purely as the in-query
    proof."""
    ev = (table(spark, sf_dir, "events")
          .filter(F.col("user_id") % 10 == 0)
          .select("user_id", "event_id",
                  F.col("event_type").alias("state"),
                  F.expr("unix_micros(ts)").alias("us")))
    cutq = ev.agg(F.expr("cast((min(us) + max(us)) div 2 as bigint)")
                  .alias("cut"))
    evc = pin(ev.crossJoin(F.broadcast(cutq)))
    runs_b = _runs_df(evc.filter(F.col("us") < F.col("cut"))
                      .select("user_id", "event_id", "state", "us"))
    ev_d = evc.filter(F.col("us") >= F.col("cut"))
    runs_d = pin(_runs_df(ev_d.select("user_id", "event_id",
                                      "state", "us")))
    runs_f = _runs_df(ev.select("user_id", "event_id", "state", "us"))

    vmax = runs_b.groupBy("user_id").agg(
        F.max("version").cast("long").alias("vmax"))
    runs_b = pin(runs_b.join(vmax, "user_id"))
    closed = (runs_b.filter(F.col("version") < F.col("vmax"))
              .select("user_id", "version", "state", "valid_from_us",
                      "n_events"))
    opn = (runs_b.filter(F.col("version") == F.col("vmax"))
           .select("user_id", "version", "state", "valid_from_us",
                   "n_events"))
    firstd = (runs_d.filter(F.col("version") == 1)
              .select(F.col("user_id"),
                      F.col("state").alias("f_state"),
                      F.col("n_events").alias("f_n")))
    open_adj = (opn.join(firstd, "user_id", "left")
                .select("user_id", "version", "state", "valid_from_us",
                        (F.col("n_events")
                         + F.when(F.col("f_state") == F.col("state"),
                                  F.col("f_n")).otherwise(F.lit(0)))
                        .cast("long").alias("n_events")))
    o_side = opn.select(F.col("user_id"),
                        F.col("version").alias("o_version"),
                        F.col("state").alias("o_state"))
    tail = (runs_d.join(o_side, "user_id", "left")
            .join(firstd.select("user_id", "f_state"), "user_id", "left")
            .filter(F.col("o_version").isNull()
                    | (F.col("version")
                       >= F.when(F.col("f_state") == F.col("o_state"),
                                 F.lit(2)).otherwise(F.lit(1))))
            .select("user_id",
                    F.when(F.col("o_version").isNull(), F.col("version"))
                     .when(F.col("f_state") == F.col("o_state"),
                           F.col("o_version") + F.col("version") - 1)
                     .otherwise(F.col("o_version") + F.col("version"))
                    .cast("long").alias("version"),
                    "state", "valid_from_us", "n_events"))
    assembled = closed.unionByName(open_adj).unionByName(tail)
    inc = pin(_hist_df(assembled))
    full_h = _hist_df(runs_f)

    i = inc.select(F.col("user_id"), F.col("version"),
                   *[F.col(c).alias(f"i_{c}") for c in
                     ("state", "valid_from_us", "valid_to_us",
                      "n_events", "is_current")])
    fh = full_h.select(F.col("user_id"), F.col("version"),
                       *[F.col(c).alias(f"f_{c}") for c in
                         ("state", "valid_from_us", "valid_to_us",
                          "n_events", "is_current")])
    cmp = (i.join(fh, ["user_id", "version"], "full_outer")
           .select("user_id",
                   F.when(F.col("i_state").isNotNull()
                          & F.col("f_state").isNotNull()
                          & (F.col("i_state") == F.col("f_state"))
                          & (F.col("i_valid_from_us")
                             == F.col("f_valid_from_us"))
                          & F.col("i_valid_to_us").eqNullSafe(
                              F.col("f_valid_to_us"))
                          & (F.col("i_n_events") == F.col("f_n_events"))
                          & (F.col("i_is_current")
                             == F.col("f_is_current")), 0)
                   .otherwise(1).alias("mism")))
    nd = (ev_d.groupBy("user_id")
          .agg(F.count("*").cast("long").alias("n_delta_events")))
    per = (inc.groupBy("user_id")
           .agg(F.count("*").cast("long").alias("n_versions"),
                F.sum(F.when(~F.col("is_current"), 1).otherwise(0))
                 .cast("long").alias("n_closed")))
    return (per.join(nd, "user_id", "left")
            .join(cmp, "user_id")
            .groupBy("user_id", "n_versions", "n_closed",
                     "n_delta_events")
            .agg((F.sum("mism") == 0).alias("inc_eq_full"))
            .select("user_id", "n_versions", "n_closed",
                    F.coalesce("n_delta_events", F.lit(0)).cast("long")
                    .alias("n_delta_events"),
                    "inc_eq_full")
            .orderBy("user_id"))


def _render_scd2_inc_oracle() -> None:
    REGISTRY["scd2_incremental_apply"].oracle = _scd2_inc_oracle()


_render_scd2_inc_oracle()
