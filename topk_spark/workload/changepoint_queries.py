"""Change-point detection over the daily revenue series — round-2c
addition to the time-series analytics surface.

``cusum_changepoint`` implements the classic one-sided CUSUM control chart
(Page 1954): S_t = max(0, S_{t-1} + (x_t − μ)). The textbook form is a
sequential recursion — useless as-is on a distributed engine — but it has
an EXACT parallel-prefix rewrite:

    S_t = P_t − min(0, min_{j≤t} P_j),   P_t = Σ_{i≤t} (x_i − μ)

(the running max-drawdown identity), which is two window functions over the
per-series partition: a prefix SUM and a prefix MIN. That turns an
inherently sequential detector into a shuffle-once, scan-parallel plan —
the same rewrite trick the engine uses for sessionization and running
totals, and the pattern to reach for whenever a "stateful scan" looks like
it needs applyInPandas.

Determinism discipline: money stays integer cents; μ = total/n is kept
RATIONAL by scaling every deviation by n (d_t = n·x_t − total), so P, S and
the alarm comparison (S > 1.5·total ⇔ 2·S > 3·total·? — in scaled units
2·S_scaled > 3·total·1 with S_scaled in n·cents) are pure BIGINT — the
whole chart value-hashes against DuckDB with zero float operations.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


# Alarm when S_true > 1.5 * mean_daily. In scaled units S_scaled = n*S_true
# and mean_daily = total/n, so: S_scaled/n > 1.5*total/n  ⇔  2*S_scaled > 3*total.
_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(cents) AS total
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT daily.event_type, d, daily.cents,
         stats.n * daily.cents - stats.total AS dt,
         stats.total AS total
  FROM daily JOIN stats USING (event_type)
),
pre AS (
  SELECT event_type, d, cents, total,
         SUM(dt) OVER (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM dev
),
s AS (
  SELECT event_type, d, cents, total,
         p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS cusum_scaled
  FROM pre
)
SELECT event_type, d, CAST(cents AS BIGINT) AS cents,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       (2 * cusum_scaled > 3 * total) AS alarm
FROM s
ORDER BY event_type, d
"""


@register("cusum_changepoint", tags=("timeseries", "anomaly"), oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM upward-shift detector per event_type over daily
    revenue, alarm threshold 1.5× the series' mean daily revenue.

    100 TB posture: the sequential recursion is rewritten exactly as
    prefix-sum minus clamped prefix-min (see module docstring), so the plan
    is one shuffle on the series key followed by two in-partition window
    scans — series process independently, no global order, no Python. The
    per-series day count is bounded (one row per day), so window state is
    trivially memory-safe even when the raw event volume is not."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("total")
    )
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "cents",
        "total",
        (F.col("n") * F.col("cents") - F.col("total")).alias("dt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.withColumn("p", F.sum("dt").over(w))
    s = pre.withColumn(
        "cusum_scaled", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    return s.select(
        "event_type",
        "d",
        F.col("cents").cast("long").alias("cents"),
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        (2 * F.col("cusum_scaled") > 3 * F.col("total")).alias("alarm"),
    ).orderBy("event_type", "d")


# Max drawdown is CUSUM's mirror image: drawdown_t = max prefix − value,
# another sequential-looking scan with the same exact window rewrite.
_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
cum AS (
  SELECT event_type, d,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumv
  FROM daily
),
dd AS (
  SELECT event_type, d, cumv,
         max(cumv) OVER (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cumv AS drawdown
  FROM cum
)
SELECT event_type,
       CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
       CAST(min(d) FILTER (WHERE drawdown = (
         SELECT max(d2.drawdown) FROM dd d2
         WHERE d2.event_type = dd.event_type)) AS DATE) AS trough_day
FROM dd
GROUP BY event_type
ORDER BY event_type
"""


def _max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily revenue per series (largest
    peak-to-trough fall, in exact cents, with the first trough day) —
    CUSUM's mirror: running-peak minus value via the same prefix-scan
    rewrite, so the 'sequential' metric is two in-partition window passes
    plus one aggregate. Integer end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = (
        daily.withColumn("cumv", F.sum("cents").over(w))
        .withColumn("drawdown", F.max("cumv").over(w) - F.col("cumv"))
    )
    mx = dd.groupBy("event_type").agg(
        F.max("drawdown").cast("long").alias("max_drawdown_cents")
    )
    return (
        dd.join(mx, "event_type")
        .filter(F.col("drawdown") == F.col("max_drawdown_cents"))
        .groupBy("event_type", "max_drawdown_cents")
        .agg(F.min("d").alias("trough_day"))
        .select("event_type", "max_drawdown_cents", "trough_day")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Historical value-at-risk: exact order statistic of daily deltas
# ---------------------------------------------------------------------------

_VAR_PCT = 5  # 5% one-day VaR

_VAR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
deltas AS (
  SELECT event_type,
         cents - LAG(cents) OVER (PARTITION BY event_type ORDER BY d)
           AS delta
  FROM daily
),
ranked AS (
  SELECT event_type, delta,
         row_number() OVER (PARTITION BY event_type ORDER BY delta) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM deltas WHERE delta IS NOT NULL
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_deltas,
       CAST(delta AS BIGINT) AS var_cents
FROM ranked
WHERE r = greatest(1, (n * {_VAR_PCT} + 99) // 100)
ORDER BY event_type
"""


def _historical_var_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical one-day 5% value-at-risk per series: the ⌈0.05·n⌉-th
    worst day-over-day revenue change, an EXACT order statistic in cents
    (historical-simulation VaR, no distributional assumption, no
    interpolation). Deltas come from an in-partition lag over the daily
    rollup; the selection window runs over ~30 deltas per series."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    deltas = daily.withColumn(
        "delta", F.col("cents") - F.lag("cents").over(wd)
    ).filter(F.col("delta").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("delta")
    ranked = deltas.withColumn("r", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    k = F.greatest(F.lit(1), F.floor((F.col("n") * _VAR_PCT + 99) / 100))
    return (
        ranked.filter(F.col("r") == k)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_deltas"),
            F.col("delta").cast("long").alias("var_cents"),
        )
        .orderBy("event_type")
    )


_RISK_TAIL_ORACLE = f"""
WITH dd_side AS ({_DRAWDOWN_ORACLE.strip().rstrip()}),
var_side AS ({_VAR_ORACLE.strip().rstrip()})
SELECT dd_side.event_type, max_drawdown_cents, trough_day, n_deltas, var_cents
FROM dd_side JOIN var_side ON dd_side.event_type = var_side.event_type
ORDER BY dd_side.event_type
"""


@register(
    "risk_tail_metrics",
    tags=("timeseries", "anomaly", "risk"),
    oracle=_RISK_TAIL_ORACLE,
)
def risk_tail_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-risk profile of each revenue series — max drawdown AND
    historical 5% one-day VaR in one frame (round-5 fold of the former
    `max_drawdown` + `historical_var_exact`: same grain, same `daily`
    rollup input, one driver row for both sequential-metric rewrites).
    Drawdown = prefix-max minus prefix-sum (the CUSUM mirror); VaR = exact
    order statistic of day-over-day deltas. Integer cents end-to-end; the
    join key is the series, so the combine is a tiny broadcast join over
    |series| rows."""
    dd = _max_drawdown(spark, sf_dir)
    var = _historical_var_exact(spark, sf_dir)
    return (
        dd.join(var, "event_type")
        .select(
            "event_type", "max_drawdown_cents", "trough_day",
            "n_deltas", "var_cents",
        )
        .orderBy("event_type")
    )
