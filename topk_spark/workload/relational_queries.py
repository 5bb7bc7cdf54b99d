"""Relational-completeness batch: the set operations and reshaping operators
a user switching from any SQL-serving OLAP store (the reference delegates
these to Pinot's engine) expects to keep — INTERSECT/EXCEPT, hierarchical
ROLLUP with grouping markers, and wide→long UNPIVOT.

All three are single-shuffle shapes: set ops hash on the full row, rollup on
the grouping keys (Spark expands grouping sets map-side before one
exchange), and unpivot is a pure map (row explosion with no exchange at
all).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register


@register(
    "retained_churned_users",
    tags=("SET",),
    oracle="""
WITH w1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts < TIMESTAMP '2024-01-08'
),
w2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
)
SELECT 'retained' AS cohort, user_id FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)
UNION ALL
SELECT 'churned' AS cohort, user_id FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
""",
)
def retained_churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT surface: users active in week 1 split into retained
    (also active in week 2) and churned (absent from week 2). Spark plans
    both as hash aggregates + left-semi/left-anti joins on the distinct key
    sets — the week extents shrink to distinct user ids before anything
    moves."""
    e = load_table(spark, sf_dir, "events")
    w1 = (
        e.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .select("user_id")
        .distinct()
    )
    w2 = (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .select("user_id")
        .distinct()
    )
    retained = w1.intersect(w2).select(
        F.lit("retained").alias("cohort"), "user_id"
    )
    churned = w1.exceptAll(w2).select(F.lit("churned").alias("cohort"), "user_id")
    return retained.unionAll(churned)


@register(
    "region_nation_rollup",
    tags=("A10", "SET"),
    oracle="""
SELECT coalesce(r.r_name, 'ALL') AS region,
       coalesce(n.n_name, 'ALL') AS nation,
       CAST(grouping(r.r_name) * 2 + grouping(n.n_name) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS total_acctbal_cents
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation → grand total) with an explicit
    grouping_id so consumers can tell a real NULL from a subtotal marker —
    the dimension-hierarchy half of the star-tree analog (`startree_cube`
    covers the full cube). Dims broadcast onto the fact; grouping-set
    expansion happens map-side before the single keyed exchange.

    The balance total is emitted as integer CENTS (BIGINT), not
    DECIMAL(18,2): exact decimal arithmetic internally, integer surface
    externally — the repo-wide output convention (decimal128 outputs are
    the one Arrow type kind the driver's value hash normalizes differently
    from everything else; the round-5 driver run proved it on this very
    query, value-identical rows hash-red). Enforced for all registered
    oracles by tests/test_oracle_parity.py::test_no_decimal_outputs_in_oracles."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("int")
            .alias("gid"),
            F.count("*").alias("n_customers"),
            (F.sum(F.col("c_acctbal").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("total_acctbal_cents"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "gid",
            "n_customers",
            "total_acctbal_cents",
        )
    )


@register(
    "pivot_unpivot_roundtrip",
    tags=("PIVOT", "RESHAPE"),
    oracle="""
WITH wide AS (
  SELECT user_id,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS views,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS clicks,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
           AS purchases,
         CAST(count(*) FILTER (event_type NOT IN ('view','click','purchase'))
              AS BIGINT) AS other
  FROM events
  GROUP BY user_id
)
SELECT user_id, metric, n FROM wide
UNPIVOT (n FOR metric IN (views, clicks, purchases, other))
""",
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide→long reshape round-trip (round-5 fold of the former
    `event_type_pivot` + `metric_unpivot`: the two reshapes are inverses,
    so one query exercises — and one driver row hash-pins — both):

    - PIVOT by conditional aggregation with a FIXED vocabulary, the form
      that keeps the plan a single hash aggregate (no value-discovery pass,
      which at 100 TB would be its own full scan);
    - UNPIVOT back via the native wide→long melt, a map-only row explosion
      after the aggregate with no exchange of its own.

    Zero counts survive the round-trip as explicit (user, metric, 0) rows —
    exactly what the sparse long form would have dropped, which is why
    pivot-then-unpivot is NOT the identity on the raw table and the oracle
    must (and does) replay both steps."""
    e = load_table(spark, sf_dir, "events")

    def cnt(pred):
        return F.sum(F.when(pred, 1).otherwise(0)).cast("long")

    t = F.col("event_type")
    wide = e.groupBy("user_id").agg(
        cnt(t == "view").alias("views"),
        cnt(t == "click").alias("clicks"),
        cnt(t == "purchase").alias("purchases"),
        cnt(~t.isin("view", "click", "purchase")).alias("other"),
    )
    return wide.unpivot(
        ["user_id"], ["views", "clicks", "purchases", "other"], "metric", "n"
    )


_GRANK_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM events GROUP BY user_id
)
SELECT * FROM (
  SELECT user_id, cents,
         row_number() OVER (ORDER BY cents DESC, user_id) AS rnk
  FROM per_user
)
WHERE user_id % 7 = 0
ORDER BY rnk
"""


@register("global_rank_without_global_sort", tags=("K-rank", "scale"), oracle=_GRANK_ORACLE)
def global_rank_without_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every user their EXACT global revenue rank without ever
    ordering all rows in one task — the scale answer to
    `Window.orderBy(...)` (a single-partition bottleneck this repo's plan
    notes repeatedly warn about), demonstrated as an operator:

      rank(u) = #users with higher cents            (CDF over DISTINCT
                                                     values, prefix-summed
                                                     on the value domain)
              + #users with equal cents, smaller id (window partitioned BY
                                                     VALUE — bounded tie
                                                     groups, not a global
                                                     order)
              + 1

    The only global-order window runs over the DISTINCT-VALUE table
    (bounded cardinality); per-user work is an equi-join on the value.
    The oracle is the naive global row_number, so the hash check proves
    the decomposition exact — including ties. Output filtered to
    user_id ≡ 0 (mod 7) to keep the driver row volume sane; every user's
    rank is computed."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(cents("value")).alias("cents")
    )
    per_val = per_user.groupBy("cents").agg(F.count("*").alias("cnt"))
    w_val = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    higher = per_val.withColumn(
        "n_higher", F.coalesce(F.sum("cnt").over(w_val), F.lit(0).cast("long"))
    ).select("cents", "n_higher")
    w_tie = Window.partitionBy("cents").orderBy("user_id")
    ranked = (
        per_user.join(higher, "cents")
        .withColumn("tie_pos", F.row_number().over(w_tie))
        .select(
            "user_id",
            "cents",
            (F.col("n_higher") + F.col("tie_pos")).alias("rnk"),
        )
    )
    return ranked.filter(F.col("user_id") % 7 == 0).orderBy("rnk")
