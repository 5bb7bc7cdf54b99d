"""Source/sink format breadth: CSV and ORC round-trips through the same
layout-cache pattern as layout_queries.py (write once per (tmp, sf), read
many). The reference ingests JSON-over-Kafka and serves from Pinot
segments; a Spark engine replacing it must also read/write the warehouse
interchange formats losslessly. JSON is covered by `json_roundtrip`;
parquet is the native path everywhere else.

Schema discipline: CSV is read with an EXPLICIT schema (inference is a
full extra pass over 100 TB and non-deterministic under promotion), ORC
carries its own types. Timestamps round-trip through ISO-8601 text in CSV
— the query proves microsecond fidelity by aggregating on the parsed
value.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.layout import materialize_once
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.layout_queries import _layout_root


def _csv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header, ISO timestamps) → read back with explicit
    schema. props (free text with commas) is quoted by the writer.

    The timestamp ZONE is pinned to UTC on BOTH sides: CSV text carries no
    zone, and the default is the session timezone — so a file written by one
    session and read by another (the write-once layout cache outlives a
    session; the driver's session TZ is not ours) would silently shift every
    instant by the TZ delta. Pinning the option makes the file canonical."""
    path = materialize_once(
        _layout_root(sf_dir, "events_csv"),
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(8)
        .write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("timeZone", "UTC")
        .csv(p),
    )
    return (
        spark.read.option("timeZone", "UTC")
        .csv(
            path,
            header=True,
            schema="event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
            timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS",
        )
    )


def _orc_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = materialize_once(
        _layout_root(sf_dir, "lineitem_orc"),
        lambda p: load_table(spark, sf_dir, "lineitem")
        .repartition(8)
        .write.mode("overwrite")
        .orc(p),
    )
    return spark.read.orc(path)


@register(
    "format_roundtrip_agg",
    tags=("io", "format"),
    oracle="""
SELECT 'csv' AS fmt,
       event_type AS grp,
       count(*) AS n,
       count(DISTINCT user_id) AS aux_count,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents,
       CAST(0 AS BIGINT) AS sum_cents2,
       CAST(epoch_us(min(ts)) AS BIGINT) AS first_us,
       CAST(epoch_us(max(ts)) AS BIGINT) AS last_us
FROM events
GROUP BY event_type
UNION ALL
SELECT 'orc' AS fmt,
       l_returnflag || '|' || l_linestatus AS grp,
       count(*) AS n,
       CAST(0 AS BIGINT) AS aux_count,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_cents,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_cents2,
       CAST(0 AS BIGINT) AS first_us,
       CAST(0 AS BIGINT) AS last_us
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def format_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both non-parquet interchange-format round-trips under one hash check
    (round-5 fold of the former `csv_roundtrip_agg` + `orc_roundtrip_agg`,
    one driver row, both code paths):

    - `fmt='csv'`: events → CSV (explicit read schema, quoted free text)
      → per-type aggregate. Min/max ts are emitted as epoch MICROSECONDS,
      so the hash proves the ISO-text round-trip kept µs fidelity.
    - `fmt='orc'`: lineitem → ORC → pricing-summary aggregate (columnar
      like parquet: projection pushdown and predicate stats apply the same
      way).

    The oracle recomputes BOTH halves from the parquet source, so a hash
    match proves each round-trip is lossless — bigints, doubles, decimals,
    quoted text, and timestamps. The two halves read different tables into
    a normalized (fmt, grp, metrics...) shape; unused metric slots are
    pinned to 0, not NULL, to keep Arrow types stable."""
    c = _csv_events(spark, sf_dir)
    zero = F.lit(0).cast("long")
    csv_half = c.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("aux_count"),
        F.sum(cents("value"))
        .cast("long")
        .alias("sum_cents"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    ).select(
        F.lit("csv").alias("fmt"), "grp", "n", "aux_count", "sum_cents",
        zero.alias("sum_cents2"), "first_us", "last_us",
    )
    o = _orc_lineitem(spark, sf_dir)
    orc_half = o.groupBy(
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("grp")
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents("l_quantity"))
        .cast("long")
        .alias("sum_cents"),
        F.sum(
            cents("l_extendedprice")
        )
        .cast("long")
        .alias("sum_cents2"),
    ).select(
        F.lit("orc").alias("fmt"), "grp", "n", zero.alias("aux_count"),
        "sum_cents", "sum_cents2", zero.alias("first_us"), zero.alias("last_us"),
    )
    return csv_half.unionByName(orc_half)


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema across generations of a table
# ---------------------------------------------------------------------------

_EVO_CUTOVER = "2024-01-16"


def _evolved_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two generations of the events table on disk: v1 (before the
    cutover) lacks `event_type`; v2 carries it. Read back as one table
    with mergeSchema — the layout every long-lived 100 TB table ends up
    with after a column is added mid-life."""
    def build(p: str) -> None:
        e = load_table(spark, sf_dir, "events")
        (
            e.filter(F.to_date("ts") < F.lit(_EVO_CUTOVER))
            .select("event_id", "ts", "user_id", "value")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(os.path.join(p, "gen=1"))
        )
        (
            e.filter(F.to_date("ts") >= F.lit(_EVO_CUTOVER))
            .select("event_id", "ts", "user_id", "value", "event_type")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(os.path.join(p, "gen=2"))
        )
        open(os.path.join(p, "_SUCCESS"), "w").close()

    path = materialize_once(_layout_root(sf_dir, "events_evolved"), build)
    return spark.read.option("mergeSchema", True).parquet(
        os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
    )


@register(
    "schema_evolution_read",
    tags=("io", "schema"),
    oracle=f"""
SELECT CASE WHEN CAST(ts AS DATE) < DATE '{_EVO_CUTOVER}'
            THEN '__legacy__' ELSE event_type END AS event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_value_cents
FROM events
GROUP BY 1
""",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate across both generations of the evolved layout:
    `mergeSchema` unifies the footers, rows from the pre-cutover
    generation surface `event_type` as NULL (mapped to '__legacy__'), and
    every other column keeps full fidelity — the oracle recomputes from
    the single-generation source with a CASE on the cutover date, so a
    hash match proves old files stay readable and correctly typed after
    the column add. At 100 TB, footer merging is a planning-time cost —
    cap generations by rewriting old partitions lazily, not by a big-bang
    migration."""
    ev = _evolved_events(spark, sf_dir)
    return (
        ev.select(
            F.coalesce(F.col("event_type"), F.lit("__legacy__")).alias(
                "event_type"
            ),
            "user_id",
            "value",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(cents("value"))
            .cast("long")
            .alias("sum_value_cents"),
        )
    )


@register(
    "props_json_extract",
    tags=("io", "json"),
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_value_cents
FROM events
GROUP BY 1
""",
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured mid-pipeline extraction: the free-form `props` JSON
    column is parsed with an explicit schema (`from_json` — JVM-side,
    no Python; schema-on-read, not inference) and the extracted field
    drives the aggregation. At 100 TB the discipline is the same as CSV:
    declare the fields you need, let the parser skip the rest, keep the
    raw string column prunable. Oracle extracts the same path with
    DuckDB's JSON functions."""
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("value"))
            .cast("long")
            .alias("sum_value_cents"),
        )
    )
