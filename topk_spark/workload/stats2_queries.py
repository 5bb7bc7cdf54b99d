"""Statistical data-quality audits — round-2c additions: a chi-square
independence test and a Benford leading-digit audit, both DIVISION-FREE
exact-integer formulations so the verdicts value-hash across engines.

- ``chi_square_independence``: is event_type independent of ISO weekday?
  Per-cell χ² contribution is (O·N − R·C)² / (R·C·N); instead of computing
  that float, the significance check cross-multiplies against the
  χ²(df=1)=3.841 critical value — 1000·(O·N−R·C)² ≥ 3841·R·C·N — in
  DECIMAL(38,0)/HUGEINT arithmetic (the square reaches ~10²³ at sf0.1,
  past BIGINT), and the reported expectation is exact milli-units
  (R·C·1000 // N, which does fit BIGINT). No float ever exists, so the
  per-cell verdict is bit-deterministic at any parallelism.
- ``benford_leading_digit``: first-significant-digit distribution of the
  revenue cents vs Benford's law. The leading digit comes from the DECIMAL
  STRING head — no log10, no float; expected shares are the standard
  Benford ppm constants; deviations are integer ppm.

Reference parity context: the reference has no statistics surface; these
are the audit queries an ingest pipeline runs to catch schedule skew and
fabricated-value anomalies.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.ops.timeparts import iso_dayofweek
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


# χ²(df=1) critical value at α=0.05 is 3.841: per-cell significance ⇔
# dev²/(R·C·N) ≥ 3.841 ⇔ 1000·dev² ≥ 3841·R·C·N (exact integers).
_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, isodow(ts) AS dow, count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS r,
         SUM(o) OVER (PARTITION BY dow) AS c,
         SUM(o) OVER () AS n
  FROM cells
)
SELECT event_type, CAST(dow AS INT) AS dow, o,
       CAST(r * c * 1000 // n AS BIGINT) AS expected_milli,
       (1000 * ((o * n - r * c)::HUGEINT * (o * n - r * c)::HUGEINT)
          >= 3841 * (r::HUGEINT * c::HUGEINT * n::HUGEINT)) AS significant
FROM m
ORDER BY event_type, dow
"""


@register("chi_square_independence", tags=("stats", "audit"), oracle=_CHI2_ORACLE)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type × ISO-weekday contingency audit: observed count, exact
    milli expectation under independence, and a division-free χ²(df=1)
    per-cell significance flag (module docstring).

    100 TB posture: one partial+final count aggregate on the (type, dow)
    pair — 35 cells — then three window sums over those 35 rows; the
    margins never touch raw events again. All arithmetic integer/decimal;
    whole-stage codegen end-to-end."""
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.select("event_type", iso_dayofweek("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("o"))
    )
    from pyspark.sql import Window

    m = (
        cells.withColumn("r", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("c", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    dev = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("decimal(38,0)")
    rcn = (
        F.col("r").cast("decimal(38,0)")
        * F.col("c").cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)")
    )
    return m.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        "o",
        F.floor(F.col("r") * F.col("c") * 1000 / F.col("n"))
        .cast("long")
        .alias("expected_milli"),
        (F.lit(1000).cast("decimal(38,0)") * dev * dev >= F.lit(3841).cast(
            "decimal(38,0)"
        ) * rcn).alias("significant"),
    ).orderBy("event_type", "dow")


# Benford expected ppm for digits 1..9: floor(log10(1+1/d) * 1e6)
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())

_BENFORD_ORACLE = f"""
WITH v AS (
  SELECT substr(CAST({CENTS_SQL} AS VARCHAR), 1, 1)::INT AS d
  FROM events WHERE {CENTS_SQL} > 0
),
obs AS (
  SELECT d, count(*)::BIGINT AS cnt FROM v GROUP BY d
),
tot AS (SELECT SUM(cnt) AS n FROM obs)
SELECT b.d AS digit,
       COALESCE(obs.cnt, 0)::BIGINT AS cnt,
       CAST(COALESCE(obs.cnt, 0) * 1000000 // tot.n AS BIGINT) AS observed_ppm,
       CAST(b.ppm AS BIGINT) AS benford_ppm,
       CAST(abs(COALESCE(obs.cnt, 0) * 1000000 // tot.n - b.ppm) AS BIGINT)
         AS deviation_ppm
FROM (VALUES {_BENFORD_VALUES}) AS b(d, ppm)
LEFT JOIN obs ON obs.d = b.d
CROSS JOIN tot
ORDER BY digit
"""


@register("benford_leading_digit", tags=("stats", "audit"), oracle=_BENFORD_ORACLE)
def benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of positive revenue cents vs Benford's
    law, deviations in exact ppm. The first significant digit is read off
    the integer's decimal string — no log10, no float — and every share is
    a BIGINT floor, so the audit value-hashes.

    100 TB posture: map-side digit extraction → 9-group partial+final
    count; the Benford reference is a 9-row literal joined at the end."""
    e = load_table(spark, sf_dir, "events")
    value_cents = cents("value")
    obs = (
        e.select(value_cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("cnt"))
    )
    ref = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_PPM.items()], "digit int, benford_ppm long"
    )
    tot = obs.agg(F.sum("cnt").alias("n"))
    joined = (
        ref.join(obs, ref.digit == obs.d, "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
            F.floor(F.coalesce("cnt", F.lit(0)) * F.lit(1000000) / F.col("n"))
            .cast("long")
            .alias("observed_ppm"),
            F.col("benford_ppm").cast("long").alias("benford_ppm"),
        )
    )
    return joined.select(
        "digit",
        "cnt",
        "observed_ppm",
        "benford_ppm",
        F.abs(F.col("observed_ppm") - F.col("benford_ppm")).alias("deviation_ppm"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum), exact integers via doubled midranks
# ---------------------------------------------------------------------------

_MWU_A, _MWU_B = "purchase", "click"

# Doubled midrank of a tied value group occupying ranks [L+1, L+c] is
# 2L + c + 1 (an integer even when the midrank is x.5), so the doubled
# rank sum R2 and doubled statistic U2 = R2 − nA(nA+1) stay in BIGINT.
# Significance: z² ≥ 3.8416 with μ=nAnB/2, σ²=nAnB(N+1)/12 (tie correction
# omitted — omission INFLATES σ, so the flag is conservative):
#   (U2−nAnB)²/4 ≥ 3.8416·nAnB(N+1)/12  ⇔  30000·(U2−nAnB)² ≥ 38416·nAnB·(N+1)
# cross-multiplied in HUGEINT/DECIMAL(38,0) — (U2−nAnB)² passes BIGINT at scale.
_MWU_ORACLE = f"""
WITH v AS (
  SELECT event_type, {CENTS_SQL} AS cents FROM events
  WHERE event_type IN ('{_MWU_A}', '{_MWU_B}')
),
per_val AS (
  SELECT cents,
         count(*) AS c,
         count(*) FILTER (WHERE event_type = '{_MWU_A}') AS ca
  FROM v GROUP BY cents
),
ranked AS (
  SELECT cents, c, ca,
         COALESCE(SUM(c) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
  FROM per_val
),
agg AS (
  SELECT SUM(ca * (2 * l + c + 1)) AS r2a,
         SUM(ca) AS na,
         SUM(c - ca) AS nb,
         SUM(c) AS n
  FROM ranked
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
       CAST((r2a - na * (na + 1)) * 1000000 // (2 * na * nb) AS BIGINT)
         AS effect_ppm,
       (30000 * ((r2a - na * (na + 1) - na * nb)::HUGEINT
                 * (r2a - na * (na + 1) - na * nb)::HUGEINT)
          >= 38416 * (na::HUGEINT * nb::HUGEINT * (n::HUGEINT + 1)))
         AS significant
FROM agg
"""


@register("mannwhitney_u", tags=("stats", "abtest"), oracle=_MWU_ORACLE)
def mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: does 'purchase' revenue stochastically
    dominate 'click'? Doubled midranks keep tied ranks integer; the doubled
    statistic U2, the common-language effect size (P(A>B) in ppm,
    = U2 / 2·nA·nB), and a conservative cross-multiplied z² flag are all
    exact — no float ranks anywhere.

    100 TB posture: ranks are NEVER assigned per row — the reduction goes
    straight to per-distinct-value counts (one hash aggregate), then a
    window prefix-sum over the DISTINCT VALUES only (bounded cardinality,
    not row count), then a one-row aggregate. The classic rank-sum over
    a global row sort would single-task; this shape never materializes a
    global order over rows."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MWU_A, _MWU_B)
    )
    per_val = (
        e.select("event_type", cents("value").alias("cents"))
        .groupBy("cents")
        .agg(
            F.count("*").alias("c"),
            F.sum((F.col("event_type") == _MWU_A).cast("long")).alias("ca"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "l", F.coalesce(F.sum("c").over(w), F.lit(0).cast("long"))
    )
    agg = ranked.agg(
        F.sum(F.col("ca") * (2 * F.col("l") + F.col("c") + 1)).alias("r2a"),
        F.sum("ca").alias("na"),
        F.sum(F.col("c") - F.col("ca")).alias("nb"),
        F.sum("c").alias("n"),
    )
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    dev = (u2 - F.col("na") * F.col("nb")).cast("decimal(38,0)")
    var_term = (
        F.col("na").cast("decimal(38,0)")
        * F.col("nb").cast("decimal(38,0)")
        * (F.col("n").cast("decimal(38,0)") + 1)
    )
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        u2.cast("long").alias("u2_a"),
        # integral div keeps the ppm exact at any scale (a double-division
        # floor would sit within rounding error of the 1/(2nAnB) gap)
        F.expr(
            "CAST((r2a - na * (na + 1)) * 1000000 div (2 * na * nb) AS BIGINT)"
        ).alias("effect_ppm"),
        (
            F.lit(30000).cast("decimal(38,0)") * dev * dev
            >= F.lit(38416).cast("decimal(38,0)") * var_term
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Rolling bivariate correlation gate, division- and sqrt-free
# ---------------------------------------------------------------------------

# Pearson r over a window needs a sqrt; the GATE |r| >= 1/2 does not:
#   r² ≥ 1/4  ⇔  4·(n·Σxy − ΣxΣy)² ≥ (n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)
# with the sign read directly off cov = n·Σxy − ΣxΣy. x = daily revenue
# cents of 'purchase', y = of 'click'; all sufficient statistics are BIGINT
# window sums, the squares go through DECIMAL(38,0)/HUGEINT.


# ---------------------------------------------------------------------------
# Wilson lower-bound rate gate, division- and sqrt-free
# ---------------------------------------------------------------------------

# Gate: "share of high-value events is significantly above 1/4" by the
# Wilson score lower bound at z=1.96 (z² = Z = 38416/10⁴), p₀ = 1/4.
# Derivation (s successes of n):   LB > p₀
#   ⇔ (s + Z/2) − p₀(n + Z) > z·sqrt(s(n−s)/n + Z/4)      [×(n+Z) > 0]
#   with A' = 4·10⁴·[(s + Z/2) − (n + Z)/4] = 4·10⁴·s + 2·38416 − 10⁴·n − 38416
#            = 40000·s − 10000·n + 38416
#   ⇔ A' > 0  AND  A'²·n > 16·10⁴·38416·s(n−s) + 4·38416²·n
# (square both sides ×16·10⁸·n). All integers; the square reaches ~10²³ at
# sf0.1 so the products ride DECIMAL128/HUGEINT.
_WILSON_ORACLE = """
WITH m AS (
  SELECT event_type,
         count(*)::BIGINT AS n,
         sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END)::BIGINT AS s
  FROM events GROUP BY event_type
)
SELECT event_type, s, n,
       ((40000 * s - 10000 * n + 38416) > 0
        AND (40000 * s - 10000 * n + 38416)::HUGEINT
            * (40000 * s - 10000 * n + 38416)::HUGEINT * n::HUGEINT
            > 6146560000::HUGEINT * s * (n - s)
              + 4 * 38416::HUGEINT * 38416 * n) AS significantly_above_25pct
FROM m
ORDER BY event_type
"""


@register("wilson_rate_gate", tags=("stats", "abtest"), oracle=_WILSON_ORACLE)
def wilson_rate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's high-value share (value ≥ 50) significantly
    above 25%? Decided by the Wilson score lower bound at z=1.96 with the
    sqrt eliminated by squaring and every division cleared by
    cross-multiplication (module comment) — the whole verdict is integer
    comparisons, so it value-hashes at any parallelism. One partial+final
    aggregate per type; the quadratic test runs on 5 rows."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") >= 50).cast("long")).alias("s"),
    )
    ap = (F.lit(40000) * F.col("s") - F.lit(10000) * F.col("n") + F.lit(38416)).cast(
        "decimal(38,0)"
    )
    nn = F.col("n").cast("decimal(38,0)")
    ss = F.col("s").cast("decimal(38,0)")
    rhs = (
        F.lit(6146560000).cast("decimal(38,0)") * ss * (nn - ss)
        + F.lit(4 * 38416 * 38416).cast("decimal(38,0)") * nn
    )
    return m.select(
        "event_type",
        "s",
        "n",
        ((ap > 0) & (ap * ap * nn > rhs)).alias("significantly_above_25pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Burstiness gate over inter-arrival times (Poisson-ness audit)
# ---------------------------------------------------------------------------

# A Poisson process has exponential inter-arrivals with CV = 1; CV > 1 is
# bursty, CV < 1 regular. CV² = var/mean² over deltas x:
#   CV² > 1  ⇔  n·Σx² − (Σx)² > (Σx)²  ⇔  n·Σx² > 2·(Σx)²
# — an exact integer comparison (Σx ≤ span·n ~ 10¹⁵·? rides DECIMAL128).
_BURST_ORACLE = """
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ms, event_id,
         lag(epoch_ms(ts)) OVER (PARTITION BY event_type
                                 ORDER BY epoch_ms(ts), event_id) AS prev
  FROM events
),
d AS (
  SELECT event_type, (ms - prev)::BIGINT AS x FROM s WHERE prev IS NOT NULL
)
SELECT event_type,
       count(*)::BIGINT AS n_deltas,
       CAST(SUM(x) // count(*) AS BIGINT) AS mean_ms,
       (count(*)::HUGEINT * SUM(x::HUGEINT * x) > 2 * (SUM(x)::HUGEINT
          * SUM(x)::HUGEINT)) AS bursty
FROM d
GROUP BY event_type
ORDER BY event_type
"""


@register("burstiness_gate", tags=("stats", "timeseries"), oracle=_BURST_ORACLE)
def burstiness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's arrival process burstier than Poisson? The
    coefficient-of-variation test CV > 1 over inter-arrival gaps, cleared
    of all division: n·Σx² > 2·(Σx)² in DECIMAL128. One shuffle on the
    series key, in-partition lag, partial+final sums — the same plan
    family as delta_bitwidth_stats, ending in a 5-row verdict."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ms", "event_id")
    s = (
        e.select("event_type", F.unix_millis("ts").alias("ms"), "event_id")
        .withColumn("prev", F.lag("ms").over(w))
        .filter(F.col("prev").isNotNull())
        .select("event_type", (F.col("ms") - F.col("prev")).alias("x"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = s.groupBy("event_type").agg(
        F.count("*").alias("n_deltas"),
        F.sum("x").alias("sx"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("n_deltas").cast("long").alias("n_deltas"),
        F.floor(F.col("sx") / F.col("n_deltas")).cast("long").alias("mean_ms"),
        (
            dec(F.col("n_deltas")) * F.col("sxx")
            > F.lit(2).cast("decimal(38,0)") * dec(F.col("sx")) * F.col("sx")
        ).alias("bursty"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Lorenz curve of user revenue concentration (the curve behind a Gini)
# ---------------------------------------------------------------------------

_LORENZ_BANDS = 10

_LORENZ_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, SUM({CENTS_SQL}) AS cents FROM events GROUP BY user_id
),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, user_id) AS r,
         count(*) OVER () AS n,
         SUM(cents) OVER () AS total
  FROM per_user
),
cum AS (
  SELECT r, n, total,
         SUM(cents) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cumc
  FROM ranked
)
SELECT CAST(r * {_LORENZ_BANDS} // n AS INT) AS decile,
       CAST(max(r) * 1000000 // any_value(n) AS BIGINT) AS pop_ppm,
       CAST(max(cumc) * 1000000 // any_value(total) AS BIGINT) AS revenue_ppm
FROM cum
WHERE r * {_LORENZ_BANDS} % n = 0 OR r = n
GROUP BY 1
ORDER BY decile
"""


@register("lorenz_revenue_curve", tags=("stats", "concentration"), oracle=_LORENZ_ORACLE)
def lorenz_revenue_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of revenue concentration across users: at each exact
    population decile boundary, the cumulative share of revenue held by
    the poorest r users — the curve whose enclosed area is the Gini
    (token_gini_ppm reports that scalar for tokens; this emits the curve
    itself, in exact ppm, for revenue). Deterministic rank order via the
    (cents, user_id) tiebreak; boundary rows are the ranks where
    r·B ≡ 0 (mod n) — exact integer decile cuts, no percentile
    interpolation.

    100 TB posture: per-user reduction first; the rank/cumsum windows run
    over users, and at extreme user counts the same curve reads off the
    value-CDF distinct-value table instead (the quantile_normalize
    pattern) — documented trade, not a different answer."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.sum(cents("value")).alias("cents"))
    from pyspark.sql import Window

    wr = Window.orderBy("cents", "user_id")
    wall = Window.partitionBy()
    ranked = (
        per_user.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wall))
        .withColumn("total", F.sum("cents").over(wall))
    )
    cum = ranked.withColumn(
        "cumc",
        F.sum("cents").over(
            Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    bounds = cum.filter(
        ((F.col("r") * _LORENZ_BANDS) % F.col("n") == 0) | (F.col("r") == F.col("n"))
    )
    return (
        bounds.groupBy(
            F.floor(F.col("r") * _LORENZ_BANDS / F.col("n")).cast("int").alias("decile")
        )
        .agg(
            F.floor(F.max("r") * F.lit(1000000) / F.first("n"))
            .cast("long")
            .alias("pop_ppm"),
            F.floor(F.max("cumc") * F.lit(1000000) / F.first("total"))
            .cast("long")
            .alias("revenue_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Shard-balance audit for the deterministic corpus shuffle
# ---------------------------------------------------------------------------

_SB_SHARDS = 16

_SHARD_ORACLE = f"""
WITH h AS (
  SELECT CAST(((((doc_id % 2147483648) + 2147483648) % 2147483648
               * 1103515245 + 12345) % 2147483648) % {_SB_SHARDS} AS INT)
    AS shard
  FROM documents
),
m AS (
  SELECT shard, count(*)::BIGINT AS cnt FROM h GROUP BY shard
),
tot AS (SELECT SUM(cnt) AS n, MAX(cnt) AS mx, MIN(cnt) AS mn FROM m)
SELECT m.shard, m.cnt,
       CAST(m.cnt * 1000000 // tot.n AS BIGINT) AS share_ppm,
       CAST(tot.mx * 1000 // tot.mn AS BIGINT) AS max_min_milli
FROM m CROSS JOIN tot
ORDER BY m.shard
"""


@register("shard_balance_audit", tags=("PIPE-shuffle", "audit"), oracle=_SHARD_ORACLE)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the deterministic corpus shuffle (ops/packing.py:shuffle_rank)
    actually spread documents evenly? Per-shard counts, exact ppm shares,
    and the max/min imbalance ratio (milli) riding every row — the
    partition-balance audit that decides whether a shard count is safe to
    train from. Pure map-side hash + a 16-group count."""
    from topk_spark.ops.packing import shuffle_rank

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        F.pmod(shuffle_rank(F.col("doc_id")), F.lit(_SB_SHARDS)).cast("int").alias(
            "shard"
        )
    )
    m = h.groupBy("shard").agg(F.count("*").alias("cnt"))
    tot = m.agg(
        F.sum("cnt").alias("n"), F.max("cnt").alias("mx"), F.min("cnt").alias("mn")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "cnt",
            F.floor(F.col("cnt") * F.lit(1000000) / F.col("n"))
            .cast("long")
            .alias("share_ppm"),
            F.floor(F.col("mx") * F.lit(1000) / F.col("mn")).cast("long").alias(
                "max_min_milli"
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Exact trimmed mean via distinct-value CDF overlap (no per-row sort)
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # trim 5% from each tail

# Keep ranks [k+1, n−k] with k = n·pct/100 (floor). Per distinct value v
# occupying ranks [cum_prev+1, cum]: its kept multiplicity is the overlap
#   kept(v) = max(0, min(cum, n−k) − max(cum_prev, k))
# so the trimmed sum Σ v·kept(v) is exact integer arithmetic over the
# DISTINCT-VALUE table — no global row sort, same decomposition family as
# mannwhitney_u / global_rank_without_global_sort.
_TRIM_ORACLE = f"""
WITH per_val AS (
  SELECT event_type, {CENTS_SQL} AS v, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
cdf AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM per_val
),
kept AS (
  SELECT event_type, n, n * {_TRIM_PCT} // 100 AS k,
         greatest(0, least(cum, n - n * {_TRIM_PCT} // 100)
                     - greatest(cum - c, n * {_TRIM_PCT} // 100)) AS m,
         v
  FROM cdf
)
SELECT event_type,
       CAST(any_value(n) AS BIGINT) AS n,
       CAST(any_value(k) AS BIGINT) AS k_trimmed,
       CAST(SUM(v * m) * 1000 // SUM(m) AS BIGINT) AS trimmed_mean_milli
FROM kept
GROUP BY event_type
ORDER BY event_type
"""


@register("trimmed_mean_exact", tags=("stats", "robust"), oracle=_TRIM_ORACLE)
def trimmed_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5%-trimmed mean of revenue cents per event type, computed on
    the distinct-value CDF: each value's kept multiplicity is the overlap
    of its rank interval with [k+1, n−k], so the trim needs no per-row
    ranking — the window runs over distinct values only, and boundary
    values are partially included with exact integer counts (the detail
    approximate trims get wrong). Output in milli-cents (BIGINT floor)."""
    e = load_table(spark, sf_dir, "events")
    per_val = (
        e.select("event_type", cents("value").alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cdf = per_val.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    k = F.floor(F.col("n") * _TRIM_PCT / 100).cast("long")
    kept_m = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.col("n") - k) - F.greatest(F.col("cum") - F.col("c"), k),
    )
    kept = cdf.select("event_type", "v", F.col("n"), k.alias("k"), kept_m.alias("m"))
    return (
        kept.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("k").alias("k_trimmed"),
            F.floor(F.sum(F.col("v") * F.col("m")) * F.lit(1000) / F.sum("m"))
            .cast("long")
            .alias("trimmed_mean_milli"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("k_trimmed").cast("long").alias("k_trimmed"),
            "trimmed_mean_milli",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Daily Herfindahl concentration of revenue across event types
# ---------------------------------------------------------------------------

# HHI = Σ share² ∈ (0, 1]; exact ppm via the common denominator:
#   hhi_ppm = floor( Σ c_t² · 1e6 / total² )   (c in cents, per day)
# c² rides DECIMAL128 (daily type cents ~1e8 → c² ~1e16·…).
_HHI_ORACLE = f"""
WITH cells AS (
  SELECT CAST(ts AS DATE) AS d, event_type, SUM({CENTS_SQL}) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT d, SUM(c::HUGEINT * c) AS ssq, SUM(c) AS total,
         count(*)::BIGINT AS n_types
  FROM cells GROUP BY d
)
SELECT d, n_types,
       CAST(ssq * 1000000 // (total::HUGEINT * total) AS BIGINT) AS hhi_ppm
FROM m
ORDER BY d
"""


@register("hhi_concentration_daily", tags=("stats", "concentration"), oracle=_HHI_ORACLE)
def hhi_concentration_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Herfindahl-Hirschman index of revenue concentration across
    event types — the log-free concentration scalar (1/n_types ppm =
    perfectly even, 1e6 = single-type days), exact ppm over a common
    denominator. Joins the Gini (tokens) and Simpson (characters) family
    as the business-mix member; one (day, type) aggregate then a per-day
    reduction, squares in DECIMAL128."""
    e = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cells = e.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.sum(cents("value")).alias("c")
    )
    m = cells.groupBy("d").agg(
        F.sum(dec("c") * F.col("c")).alias("ssq"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_types"),
    )
    return m.select(
        "d",
        F.col("n_types").cast("long").alias("n_types"),
        F.floor(F.col("ssq") * F.lit(1000000) / (dec("total") * F.col("total")))
        .cast("long")
        .alias("hhi_ppm"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Price-ending audit (last-two-digits distribution, Benford's sibling)
# ---------------------------------------------------------------------------

# Uniformity gate per ending (expected share 1/100): the same χ²(df=1)
# cross-multiplication as chi_square_independence, with E = n/100:
#   (c − n/100)²/(n/100) ≥ 3.841 ⇔ 100·(100·c − n)² ≥ 3841·100·n ⇔
#   (100·c − n)² · 100 ≥ 384100·n   (exact integers; squares in DECIMAL128)


# ---------------------------------------------------------------------------
# Winsorization: exact order-statistic clamping (round 3)
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = f"""
WITH c AS (
  SELECT event_type, {CENTS_SQL} AS cents FROM events
),
vals AS (
  SELECT event_type, cents, count(*) AS cnt
  FROM c GROUP BY event_type, cents
),
cum AS (
  SELECT event_type, cents, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM vals
),
bounds AS (
  SELECT event_type,
         CAST(min(CASE WHEN cumc >= (n * 5 + 99) // 100 THEN cents END)
              AS BIGINT) AS lo_cents,
         CAST(min(CASE WHEN cumc >= (n * 95 + 99) // 100 THEN cents END)
              AS BIGINT) AS hi_cents,
         CAST(min(n) AS BIGINT) AS n
  FROM cum GROUP BY event_type
)
SELECT v.event_type, b.n, b.lo_cents, b.hi_cents,
       CAST(SUM(v.cnt * least(greatest(v.cents, b.lo_cents), b.hi_cents))
            AS BIGINT) AS winsorized_sum_cents,
       CAST(SUM(v.cnt * v.cents) AS BIGINT) AS raw_sum_cents,
       CAST(SUM(CASE WHEN v.cents < b.lo_cents THEN v.cnt ELSE 0 END)
            AS BIGINT) AS n_clamped_low,
       CAST(SUM(CASE WHEN v.cents > b.hi_cents THEN v.cnt ELSE 0 END)
            AS BIGINT) AS n_clamped_high
FROM vals v JOIN bounds b USING (event_type)
GROUP BY v.event_type, b.n, b.lo_cents, b.hi_cents
ORDER BY v.event_type
"""


@register(
    "winsorized_revenue_stats",
    tags=("stats", "hygiene", "winsorize"),
    oracle=_WINSOR_ORACLE,
)
def winsorized_revenue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (P5/P95-clamped) revenue per event type, EXACT: the clamp
    bounds are order statistics — the value at 1-based rank ceil(0.05·n)
    and ceil(0.95·n) — taken from the distinct-value CDF, so no per-row
    ranking, no percentile interpolation, and no floats anywhere. The
    clamped sum is computed per distinct value (cnt·clamp(c)), never per
    row. This is the preprocessing complement of robust_outlier_filter:
    clamping keeps every row (training pipelines winsorize features they
    cannot afford to drop), filtering removes them.

    100 TB posture: one partial+final count on (type, cents) — the value
    domain, not the row count — then windows and joins over that bounded
    table only. Identical rank arithmetic on both engines (integer ceil
    via (n·q+99) div 100), so the value hash pins the convention."""
    e = load_table(spark, sf_dir, "events")
    value_cents = cents("value")
    vals = (
        e.select("event_type", value_cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = vals.withColumn("cumc", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    bounds = cum.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cumc") >= F.expr("(n * 5 + 99) div 100"), F.col("cents")
            )
        ).alias("lo_cents"),
        F.min(
            F.when(
                F.col("cumc") >= F.expr("(n * 95 + 99) div 100"), F.col("cents")
            )
        ).alias("hi_cents"),
        F.min("n").alias("n"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
    return (
        vals.join(bounds, "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.col("cnt") * clamped).cast("long").alias(
                "winsorized_sum_cents"
            ),
            F.sum(F.col("cnt") * F.col("cents")).cast("long").alias(
                "raw_sum_cents"
            ),
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
        )
        .select(
            "event_type", "n", "lo_cents", "hi_cents", "winsorized_sum_cents",
            "raw_sum_cents", "n_clamped_low", "n_clamped_high",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Lag-7 autocorrelation gate: is the weekly seasonality REAL? (round 3)
# ---------------------------------------------------------------------------

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
pairs AS (
  SELECT a.event_type, a.cents AS x, b.cents AS y
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.d = a.d + INTERVAL 7 DAY
),
m AS (
  SELECT event_type, count(*)::BIGINT AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
       CAST(sign(n * sxy - sx * sy) AS INT) AS acf_sign,
       (4 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
          >= (n * sxx - sx * sx) * (n * syy - sy * sy)
        AND n * sxy - sx * sy > 0) AS weekly_seasonal
FROM m
ORDER BY event_type
"""


@register(
    "weekly_autocorr_gate", tags=("stats", "timeseries", "TS-acf"), oracle=_ACF_ORACLE
)
def weekly_autocorr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation gate per event type: pair each day's revenue
    with the same weekday one week later, and decide — division- and
    sqrt-free, the cross-multiplied correlation-gate discipline — whether the weekly
    autocorrelation is positive and strong (r ≥ 1/2 via the
    cross-multiplied 4·cov² ≥ varx·vary test with a positive-covariance
    guard). This is the SIGNIFICANCE test for the seasonality that
    stl_decompose_daily visualizes and seasonal_naive_mae exploits: run
    the gate first; if weekly_seasonal is false, the seasonal-naive
    baseline and the per-dow seasonal terms are fitting noise.

    100 TB posture: the fact reduces to the daily rollup before the
    self-join; pairs are an equi-join on (type, day+7) over that tiny
    series; one final aggregate per type. Sufficient statistics ride
    DECIMAL128/HUGEINT so the squares never wrap."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents("value")).cast("long").alias("cents")
    )
    a = daily.select("event_type", F.col("d").alias("da"), F.col("cents").alias("x"))
    b = daily.select(
        "event_type", F.date_sub("d", 7).alias("da"), F.col("cents").alias("y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (
        a.join(b, ["event_type", "da"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(dec("x") * F.col("y")).alias("sxy"),
            F.sum(dec("x") * F.col("x")).alias("sxx"),
            F.sum(dec("y") * F.col("y")).alias("syy"),
        )
    )
    cov_n = F.col("n") * F.col("sxy") - dec("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - dec("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - dec("sy") * F.col("sy")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.signum(cov_n).cast("int").alias("acf_sign"),
        (
            (F.lit(4).cast("decimal(38,0)") * cov_n * cov_n >= varx_n * vary_n)
            & (cov_n > 0)
        ).alias("weekly_seasonal"),
    ).orderBy("event_type")
