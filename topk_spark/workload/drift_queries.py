"""Distribution-drift monitoring (round 2): the two-sample
Kolmogorov-Smirnov distance, computed EXACTLY — the statistic a data-quality
gate runs between yesterday's and today's feature distribution before
letting a pipeline promote new data.

Exactness: KS = max_v |F1(v) − F2(v)| compares empirical CDFs; instead of
float CDFs, compare cross-multiplied integer counts — |cum1·n2 − cum2·n1| —
so the max is over exact integers and only the final ppm is one floor
division. DECIMAL(38,0) carries the products (at 100 TB day volumes the
cross product exceeds int64).

Scale shape: per-(day, value) counts partial-aggregate map-side; the CDF
windows partition by day-pair over the bounded value domain; output is one
row per adjacent-day pair.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


_KS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, {CENTS_SQL} AS cents, count(*) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT d FROM daily),
pairs AS (
  SELECT a.d AS d1, b.d AS d2 FROM days a JOIN days b
  ON b.d = a.d + INTERVAL 1 DAY
),
sided AS (
  SELECT p.d1, daily.cents,
         CASE WHEN daily.d = p.d1 THEN daily.c ELSE 0 END AS c1,
         CASE WHEN daily.d = p.d2 THEN daily.c ELSE 0 END AS c2
  FROM pairs p JOIN daily ON daily.d IN (p.d1, p.d2)
),
merged AS (
  SELECT d1, cents, SUM(c1) AS c1, SUM(c2) AS c2
  FROM sided GROUP BY d1, cents
),
cum AS (
  SELECT d1, cents,
         SUM(c1) OVER (PARTITION BY d1 ORDER BY cents) AS cum1,
         SUM(c2) OVER (PARTITION BY d1 ORDER BY cents) AS cum2,
         SUM(c1) OVER (PARTITION BY d1) AS n1,
         SUM(c2) OVER (PARTITION BY d1) AS n2
  FROM merged
)
SELECT d1 AS day,
       CAST(max(n1) AS BIGINT) AS n_day,
       CAST(max(n2) AS BIGINT) AS n_next,
       CAST(max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
            * 1000000 // (CAST(max(n1) AS HUGEINT) * max(n2)) AS BIGINT)
         AS ks_ppm
FROM cum GROUP BY d1
ORDER BY day
"""


@register("ks_drift_daily", tags=("DRIFT-ks",), oracle=_KS_ORACLE)
def ks_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between each day's event-value
    distribution and the next day's — the drift gate, in ppm. Adjacent-day
    pairing replicates each day's value counts into its (day−1) pair via
    one union (each daily row lands in ≤2 pairs — bounded fan-out, no
    theta join); CDFs are running sums over the value domain per pair;
    the statistic compares exact cross-multiplied DECIMAL counts."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("d"),
        cents("value").alias("cents"),
    ).agg(F.count("*").alias("c"))
    # day d contributes as side-1 of pair d and side-2 of pair d-1
    side1 = daily.select(F.col("d").alias("d1"), "cents", F.col("c").alias("c1"),
                         F.lit(0).alias("c2"))
    side2 = daily.select(
        F.date_sub("d", 1).alias("d1"), "cents", F.lit(0).alias("c1"),
        F.col("c").alias("c2"),
    )
    merged = (
        side1.unionByName(side2)
        .groupBy("d1", "cents")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    w_cum = Window.partitionBy("d1").orderBy("cents")
    w_all = Window.partitionBy("d1")
    cum = merged.select(
        "d1",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    agg = (
        cum.groupBy("d1")
        .agg(
            F.max("n1").alias("n_day"),
            F.max("n2").alias("n_next"),
            F.max(
                F.abs(
                    F.col("cum1").cast("decimal(38,0)") * F.col("n2")
                    - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
                )
            ).alias("ks_num"),
        )
        # drop the edge pairs where one side is empty (first day has no
        # predecessor contribution, last pair has no successor)
        .filter((F.col("n_day") > 0) & (F.col("n_next") > 0))
    )
    return agg.select(
        F.col("d1").alias("day"),
        "n_day",
        "n_next",
        # exact integral div (decimal-widened) — see tv_distance_drift
        F.expr(
            "CAST((CAST(ks_num AS DECIMAL(38,0)) * 1000000) div "
            "(CAST(n_day AS DECIMAL(19,0)) * n_next) AS BIGINT)"
        ).alias("ks_ppm"),
    ).orderBy("day")


_GINI_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
freq AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c, tok) AS i
  FROM freq
),
agg AS (
  SELECT source, count(*) AS n, SUM(c) AS total, SUM(i * c) AS iwsum
  FROM ranked GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_tokens_distinct,
       CAST(total AS BIGINT) AS n_tokens,
       CAST((2 * CAST(iwsum AS HUGEINT) - (n + 1) * CAST(total AS HUGEINT))
            * 1000000 // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_ppm
FROM agg
ORDER BY source
"""


@register("token_gini_ppm", tags=("DRIFT-gini",), oracle=_GINI_ORACLE)
def token_gini_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of each source's token-frequency distribution in
    exact ppm — the concentration diagnostic (a source whose tokens are
    dominated by a few strings is boilerplate-heavy; a too-uniform one is
    likely synthetic). Rank-weighted form G = (2·Σi·c_i − (n+1)·Σc)/(n·Σc)
    over counts sorted ascending: every term is an exact integer, one
    floor division at the end. The rank window partitions by source over
    the (vocab-sized) frequency table."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = freq.select(
        "source",
        "c",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("c", "tok"))
        .alias("i"),
    )
    agg = ranked.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("total"),
        F.sum(F.col("i").cast("decimal(20,0)") * F.col("c")).alias("iwsum"),
    )
    return agg.select(
        "source",
        F.col("n").alias("n_tokens_distinct"),
        F.col("total").alias("n_tokens"),
        # exact integral div (decimal-widened) — see tv_distance_drift
        F.expr(
            "CAST(((2 * CAST(iwsum AS DECIMAL(30,0))"
            " - (n + 1) * CAST(total AS DECIMAL(30,0))) * 1000000) div "
            "(CAST(n AS DECIMAL(19,0)) * total) AS BIGINT)"
        ).alias("gini_ppm"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Total-variation distance over binned histograms (KS's L1 sibling)
# ---------------------------------------------------------------------------

_TV_BAND = 10_000  # cents per histogram bin

# TV(P,Q) = ½ Σ_b |p_b − q_b| with p_b = c_b/n1, q_b = d_b/n2; in exact ppm:
#   tv_ppm = floor( Σ_b |c_b·n2 − d_b·n1| · 1e6 / (2·n1·n2) )
# |c·n| ≤ 9e8 at sf0.1 and the summed numerator ×1e6 stays under 2⁶³, so the
# whole statistic is BIGINT (KS needed DECIMAL128 because its cross products
# ride the CUMULATIVE counts; TV's are per-bin).
_TV_ORACLE = f"""
WITH binned AS (
  SELECT CAST(ts AS DATE) AS d, {CENTS_SQL} // {_TV_BAND} AS bin,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT d, SUM(c) AS n FROM binned GROUP BY d
),
paired AS (
  SELECT COALESCE(a.d, b.d - INTERVAL 1 DAY) AS d,
         COALESCE(a.c, 0) AS c1, COALESCE(b.c, 0) AS c2
  FROM binned a
  FULL OUTER JOIN (SELECT d, bin, c FROM binned) b
    ON b.d = a.d + INTERVAL 1 DAY AND b.bin = a.bin
  WHERE COALESCE(a.d, b.d - INTERVAL 1 DAY) IN (SELECT d FROM totals)
    AND COALESCE(a.d, b.d - INTERVAL 1 DAY) + INTERVAL 1 DAY
        IN (SELECT d FROM totals)
),
num AS (
  SELECT p.d, SUM(abs(p.c1 * t2.n - p.c2 * t1.n)) AS s,
         any_value(t1.n) AS n1, any_value(t2.n) AS n2
  FROM paired p
  JOIN totals t1 ON t1.d = p.d
  JOIN totals t2 ON t2.d = p.d + INTERVAL 1 DAY
  GROUP BY p.d
)
SELECT CAST(d AS DATE) AS day_a,
       CAST(s * 1000000 // (2 * n1 * n2) AS BIGINT) AS tv_ppm
FROM num
ORDER BY day_a
"""


@register("tv_distance_drift", tags=("DRIFT-tv",), oracle=_TV_ORACLE)
def tv_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between adjacent days' binned revenue
    histograms, in exact ppm — the L1 drift gate beside `ks_drift_daily`'s
    sup-norm: TV bounds how much ANY event's probability can differ, so a
    promotion gate reads it directly as worst-case distribution shift.

    Division-free until the single final floor; per-bin cross products fit
    BIGINT (unlike KS's cumulative ones). One partial+final (day, bin)
    count, a full-outer bin alignment between adjacent days, one grouped
    L1 sum."""
    e = load_table(spark, sf_dir, "events")
    value_cents = cents("value")
    binned = (
        e.select(F.to_date("ts").alias("d"), F.floor(value_cents / _TV_BAND).alias("bin"))
        .groupBy("d", "bin")
        .agg(F.count("*").alias("c"))
    )
    totals = binned.groupBy("d").agg(F.sum("c").alias("n"))
    a = binned.select(F.col("d").alias("da"), "bin", F.col("c").alias("c1"))
    b = binned.select(
        F.date_sub("d", 1).alias("da"), "bin", F.col("c").alias("c2")
    )
    paired = (
        a.join(b, ["da", "bin"], "full_outer")
        .select(
            "da",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
        )
        .join(F.broadcast(totals.select(F.col("d").alias("da"), F.col("n").alias("n1"))), "da")
        .join(
            F.broadcast(
                totals.select(F.date_sub("d", 1).alias("da"), F.col("n").alias("n2"))
            ),
            "da",
        )
    )
    num = paired.groupBy("da").agg(
        F.sum(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))).alias("s"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )
    return num.select(
        F.col("da").alias("day_a"),
        # integral div in DECIMAL(38,0), mirroring the oracle's exact '//':
        # a double division's rounded quotient can floor to a different
        # integer once s*1e6 nears 2^53 (daily counts ~3e4 suffice), and
        # the decimal widening keeps s*1e6 itself from overflowing BIGINT.
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div "
            "(2 * CAST(n1 AS DECIMAL(19,0)) * n2) AS BIGINT)"
        ).alias("tv_ppm"),
    ).orderBy("day_a")


# ---------------------------------------------------------------------------
# Histogram-intersection similarity between sources (top pairs)
# ---------------------------------------------------------------------------

_HI_BAND = 500  # chars per doc-length histogram bin
_HI_TOP = 10

# Histogram intersection K(P,Q) = Σ_b min(p_b, q_b) ∈ [0,1] — the classic
# kernel for comparing distributions. Exact ppm via the common denominator:
#   hi_ppm = floor( Σ_b min(c_b·n_q, d_b·n_p) · 1e6 / (n_p·n_q) )
_HI_ORACLE = f"""
WITH binned AS (
  SELECT source, n_chars // {_HI_BAND} AS bin, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
totals AS (SELECT source, SUM(c) AS n FROM binned GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         SUM(least(a.c * tb.n, b.c * ta.n)) AS s,
         any_value(ta.n) AS na, any_value(tb.n) AS nb
  FROM binned a
  JOIN binned b ON b.bin = a.bin AND a.source < b.source
  JOIN totals ta ON ta.source = a.source
  JOIN totals tb ON tb.source = b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b,
       CAST(s * 1000000 // (na * nb) AS BIGINT) AS intersection_ppm
FROM pairs
ORDER BY intersection_ppm DESC, src_a, src_b
LIMIT {_HI_TOP}
"""


@register("source_histogram_similarity", tags=("DRIFT-hi",), oracle=_HI_ORACLE)
def source_histogram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar source pairs by histogram intersection of their
    doc-length distributions, exact ppm (the kernel Σ min(p,q) with the
    division deferred to one final floor over the common denominator).
    The similarity matrix a mixture planner reads before merging sources.

    100 TB posture: docs reduce to (source, bin) counts first; the pair
    join runs on that bounded histogram table (sources × bins), never on
    documents; bins absent from one side contribute zero to min and are
    correctly dropped by the inner join."""
    d = load_table(spark, sf_dir, "documents")
    binned = (
        d.select("source", F.floor(F.col("n_chars") / _HI_BAND).alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count("*").alias("c"))
    )
    totals = binned.groupBy("source").agg(F.sum("c").alias("n"))
    a = binned.select(
        F.col("source").alias("src_a"), "bin", F.col("c").alias("ca")
    ).join(totals.select(F.col("source").alias("src_a"), F.col("n").alias("na")), "src_a")
    b = binned.select(
        F.col("source").alias("src_b"), "bin", F.col("c").alias("cb")
    ).join(totals.select(F.col("source").alias("src_b"), F.col("n").alias("nb")), "src_b")
    pairs = (
        a.join(b, "bin")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.least(F.col("ca") * F.col("nb"), F.col("cb") * F.col("na"))).alias("s"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    from topk_spark.ops.topk import topn

    scored = pairs.select(
        "src_a",
        "src_b",
        # exact integral div (decimal-widened) — see tv_distance_drift
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * 1000000) div "
            "(CAST(na AS DECIMAL(19,0)) * nb) AS BIGINT)"
        ).alias("intersection_ppm"),
    )
    return topn(
        scored, [F.desc("intersection_ppm"), F.asc("src_a"), F.asc("src_b")], _HI_TOP
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises drift (the L2 member of the KS/TV/CvM trilogy)
# ---------------------------------------------------------------------------

# Two-sample CvM over the POOLED support: T = Σ_v w_v·(F1(v) − F2(v))²
# with w_v = pooled count at v. Cross-multiplied to integers:
#   (F1−F2)² = (cum1·n2 − cum2·n1)² / (n1·n2)²
#   cvm_scaled = Σ_v w_v·(cum1·n2 − cum2·n1)²   — exact in DECIMAL128 —
# reported as ppm of its maximum n·(n1·n2)² (attained by disjoint
# supports), so the statistic is scale-free and BIGINT-rendered.
_CVM_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, {CENTS_SQL} AS cents, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
a AS (SELECT d AS day_a, cents, c AS c1 FROM daily),
b AS (SELECT d - INTERVAL 1 DAY AS day_a, cents, c AS c2 FROM daily),
norm AS (
  SELECT COALESCE(a.day_a, b.day_a) AS day_a,
         COALESCE(a.cents, b.cents) AS cents,
         COALESCE(a.c1, 0) AS c1, COALESCE(b.c2, 0) AS c2
  FROM a FULL OUTER JOIN b
    ON b.day_a = a.day_a AND b.cents = a.cents
),
cum AS (
  SELECT day_a, cents, c1, c2,
         SUM(c1) OVER (PARTITION BY day_a ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS cum1,
         SUM(c2) OVER (PARTITION BY day_a ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS cum2,
         SUM(c1) OVER (PARTITION BY day_a) AS n1,
         SUM(c2) OVER (PARTITION BY day_a) AS n2
  FROM norm
),
stat AS (
  SELECT day_a,
         SUM((c1 + c2)::HUGEINT
             * (cum1::HUGEINT * n2 - cum2::HUGEINT * n1)
             * (cum1::HUGEINT * n2 - cum2::HUGEINT * n1)) AS s,
         any_value(n1) AS n1, any_value(n2) AS n2
  FROM cum
  WHERE n1 > 0 AND n2 > 0
  GROUP BY day_a
)
SELECT CAST(day_a AS DATE) AS day_a,
       CAST(s * 1000000 // ((n1 + n2)::HUGEINT
            * (n1::HUGEINT * n2) * (n1::HUGEINT * n2)) AS BIGINT)
         AS cvm_ppm
FROM stat
ORDER BY day_a
"""


@register("cvm_drift_daily", tags=("DRIFT-cvm",), oracle=_CVM_ORACLE)
def cvm_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises distance between adjacent days' revenue
    distributions — the L2 completion of the drift trilogy (KS = sup norm,
    TV = binned L1, CvM = CDF-weighted L2), sensitive to broad shifts the
    sup-norm misses. Exact integers end-to-end: pooled-point weights times
    squared cross-multiplied CDF gaps in DECIMAL128, one final floor to
    ppm of the disjoint-support maximum.

    Plan family of ks_drift_daily: per-(day, value) counts partial-agg
    map-side; CDF windows partition by day-pair over the value domain."""
    e = load_table(spark, sf_dir, "events")
    value_cents = cents("value")
    daily = (
        e.select(F.to_date("ts").alias("d"), value_cents.alias("cents"))
        .groupBy("d", "cents")
        .agg(F.count("*").alias("c"))
    )
    a = daily.select(F.col("d").alias("day_a"), "cents", F.col("c").alias("c1"))
    b = daily.select(
        F.date_sub("d", 1).alias("day_a"), "cents", F.col("c").alias("c2")
    )
    norm = a.join(b, ["day_a", "cents"], "full_outer").select(
        "day_a",
        "cents",
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.coalesce("c2", F.lit(0)).alias("c2"),
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("day_a")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("day_a")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cum = (
        norm.withColumn("cum1", F.sum("c1").over(wcum))
        .withColumn("cum2", F.sum("c2").over(wcum))
        .withColumn("n1", F.sum("c1").over(wall))
        .withColumn("n2", F.sum("c2").over(wall))
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    gap = dec("cum1") * F.col("n2") - dec("cum2") * F.col("n1")
    stat = cum.groupBy("day_a").agg(
        F.sum((dec("c1") + F.col("c2")) * gap * gap).alias("s"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )
    # exact integral div (decimal-widened) — see tv_distance_drift; a
    # decimal '/' rounds HALF_UP at result scale before the floor, which
    # can cross an integer boundary the oracle's exact '//' does not.
    return stat.select(
        "day_a",
        F.expr(
            "CAST((s * 1000000) div ((CAST(n1 AS DECIMAL(38,0)) + n2)"
            " * (CAST(n1 AS DECIMAL(19,0)) * n2)"
            " * (CAST(n1 AS DECIMAL(19,0)) * n2)) AS BIGINT)"
        ).alias("cvm_ppm"),
    ).orderBy("day_a")
