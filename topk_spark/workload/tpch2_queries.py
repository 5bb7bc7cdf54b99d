"""TPC-H-adapted relational suite, part 2 — the query shapes the first batch
(`tpch_queries`, `joins_queries`) doesn't cover: EXISTS semi-joins with
pushed-down predicates (Q4), scan-only range aggregation (Q6), nation-pair
volume (Q7), market-share CASE ratio (Q8), profit rollup by nation/year (Q9),
returned-item top-k (Q10), left-outer count distribution (Q13), promo ratio
(Q14), scalar-subquery max (Q15), distinct-supplier variety (Q16), correlated
avg threshold (Q17), HAVING-gated large orders (Q18), OR-of-ANDs bracket
predicates (Q19), and scalar-threshold anti-join (Q22).

Adapted to the driver's reduced star schema (no partsupp, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone) — each query keeps the
original's *operator shape* on the columns that exist.

Determinism contract (shared with tpch_queries): money math accumulates in
DECIMAL and is surfaced as DOUBLE, so results are identical at any
partitioning; every top-k sort carries a unique-key tiebreaker.

Scale notes inline: dimension sides broadcast; facts shuffle at most once on
a high-cardinality key; aggregation happens before joins wherever the join
would not change the grouped result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.workload import register

_P = "decimal(12,2)"  # prices / quantities
_D = "decimal(4,2)"   # discount / tax fractions


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


def _disc_price() -> F.Column:
    return F.col("l_extendedprice").cast(_P) * (
        F.lit(1) - F.col("l_discount").cast(_D)
    )


@register(
    "q4_priority_returns",
    tags=("J-semi", "F2"),
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
)
def q4_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a window having >=1 returned line, counted by
    priority. EXISTS → left_semi; the lineitem side is filtered *before* the
    join so the semi-join build only carries returned lines."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    tags=("A4", "F2"),
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate, no join, no shuffle beyond the
    single-row final agg. All four predicates push to the parquet scan
    (verified in PLANS.md); at 100 TB this is the I/O-bound best case."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_P) * F.col("l_discount").cast(_D)
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q7_volume_shipping",
    tags=("J-star", "P8"),
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS INT)
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing between a nation pair, by ship-year.
    supplier/customer/nation broadcast; the only shuffle is lineitem⋈orders
    on orderkey, then the grouped agg. The nation-pair disjunction is applied
    after the cheap broadcast joins (it needs both sides)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    tags=("J-star", "A4"),
    oracle="""
WITH all_nations AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM all_nations
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2's share of STANDARD-part revenue sold into
    ASIA, per order-year. Both sums accumulate in DECIMAL inside one grouped
    agg (one pass, one shuffle); the share divides the exact sums as DOUBLE."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey"))
    vol = F.col("l_extendedprice").cast(_P) * (F.lit(1) - F.col("l_discount").cast(_D))
    nation2_vol = F.when(
        F.col("supp_nation") == "NATION_2", vol
    ).otherwise(F.lit(0).cast(_P))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == r.r_regionkey, "left_semi")
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(nation2_vol).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q9_profit_by_nation_year",
    headline=True,
    tags=("J-star", "P8"),
    oracle="""
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_type <> 'PROMO'
GROUP BY n.n_name, CAST(year(l.l_shipdate) AS INT)
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp → profit is discounted revenue): profit by
    supplier nation and ship-year over non-PROMO parts. part/supplier/nation
    all broadcast — lineitem never shuffles until the 25×7-group agg, which is
    ~all map-side partial."""
    from topk_spark.ops.money import sum_units_exact

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    # Round-14 (guide §5 / ops.money): same exact decimal quantization as
    # _disc_price, but the product and the accumulation run in int64
    # (10^-4 dollar units, overflow-safe split sums) with one decimal(38,6)
    # recombination per group — bit-identical output (pinned by test), no
    # per-row BigDecimal.
    profit_u = (F.col("l_extendedprice").cast(_P) * 100).cast("long") * (
        F.lit(100) - (F.col("l_discount").cast(_D) * 100).cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
            profit_u.alias("profit_u"),
        )
        .groupBy("nation", "o_year")
        .agg(
            sum_units_exact(F.col("profit_u"), 4).cast("double").alias("sum_profit")
        )
    )


@register(
    "q10_returned_items",
    tags=("K2", "J-star"),
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in a half-year.
    Aggregates (custkey → revenue) BEFORE attaching customer/nation dims, so
    the wide dim columns ride on 1 row per customer, not 1 per lineitem;
    TakeOrderedAndProject handles the global top-20 without a full sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-07-01"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_disc_price()).alias("rev_dec"))
    )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey", "c_name", "n_name", "c_acctbal",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_order_count_distribution",
    tags=("J-outer", "A4"),
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, keeping
    zero-order customers via LEFT OUTER with the priority predicate *in the
    join condition* (a WHERE would silently turn it inner). Two aggs, two
    shuffles; at 100 TB pre-aggregate orders by custkey instead of joining
    raw orders."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q14_promo_revenue",
    tags=("A4", "P10"),
    oracle="""
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: % of one month's revenue from PROMO parts. Single broadcast
    join, both conditional sums in one exact-decimal agg pass, ratio taken in
    DOUBLE at the end."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01"))
        & (F.col("l_shipdate") < _ts("1997-10-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
        F.lit(0).cast(_P)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    tags=("J-scalar", "K6"),
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.rev_dec AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.rev_dec = (SELECT max(rev_dec) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the max quarterly revenue — scalar
    subquery against a derived view. The revenue view computes once and is
    reused for both the max and the equality filter (exact DECIMAL compare,
    so ties are real ties, not float accidents)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_price()).alias("rev_dec")
    )
    mx = revenue.agg(F.max("rev_dec").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("rev_dec") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue")
        )
    )


@register(
    "q16_supplier_variety",
    tags=("A6", "J-star"),
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size IN (1, 14, 23, 45) AND p.p_type <> 'PROMO'
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp → supply facts come from lineitem):
    distinct suppliers per part (brand, type, size) bucket. count_distinct
    expands to a two-phase agg (distinct shuffle then count) — exact, and
    fine because the group space is small; at 100 TB swap to HLL."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 14, 23, 45) & (F.col("p_type") != "PROMO")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    tags=("J-corr", "A4"),
    oracle="""
WITH part_avg AS (
  SELECT l_partkey,
         0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)) AS qty_thr
  FROM lineitem
  GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN part_avg a ON l.l_partkey = a.l_partkey
WHERE p.p_brand = 'Brand#11' AND l.l_quantity < a.qty_thr
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-average-quantity orders of one brand.
    The correlated `l_quantity < 0.2*avg(...)` subquery is de-correlated into
    a per-part pre-aggregate joined back to lineitem — the standard Spark
    rewrite (Catalyst does the same for scalar correlated subqueries). The
    threshold derives from exact decimal sums so both engines compare
    identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast(_P)).cast("double")
                / F.count("*").cast("double")
            )
        ).alias("qty_thr")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(_P)).cast("double") / F.lit(7.0))
            .alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    tags=("A4", "K2"),
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(big.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
) big ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers whose orders exceed 300 total units — HAVING gate
    on a grouped sum, then dims attached to the (few) survivors and a global
    top-20. The HAVING filter runs on the aggregate before any join, so the
    expensive joins see only qualifying orders."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_P)).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_bracket_revenue",
    tags=("F4", "J-star"),
    oracle="""
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#6' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
""",
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs bracket predicate across both join sides. The
    part-only disjuncts (brand ∪ size range) could pre-filter the broadcast
    side; we keep the full disjunction post-join (it references l_quantity)
    and let Catalyst extract the common part-side filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    bracket = (
        (
            (F.col("p_brand") == "Brand#6")
            & F.col("p_size").between(1, 15)
            & (q >= 1) & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(10, 30)
            & (q >= 10) & (q <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(20, 50)
            & (q >= 20) & (q <= 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q22_idle_rich_customers",
    tags=("J-anti", "J-scalar"),
    oracle="""
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n.n_name, count(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey, thr
WHERE c.c_acctbal > thr.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name
""",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (no c_phone → nation stands in for country code):
    above-average-balance customers who never ordered, per nation. Scalar
    average broadcast as a 1-row cross join; NOT EXISTS → left_anti on the
    orders key set (at scale: anti-join against distinct o_custkey)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    n = load_table(spark, sf_dir, "nation")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(_P)).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(_P)).cast("double").alias("totacctbal"),
        )
    )
