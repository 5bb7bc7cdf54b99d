"""Sources: driver testdata parquet, Kafka (S1/S2), JSON event parsing (P1).

At 100 TB the scan layer is where queries are won: every loader here returns a
*plain* DataFrame so Catalyst keeps predicate pushdown, column pruning and
partition pruning intact (no collect, no pandas materialization).

Reference citations: Kafka source TopKStreamingJob.kt:221-237 (S1), plain
consumer loop KafkaConsumerTopKJob.kt:99-131 (S2), JSON parse
TopKStreamingJob.kt:240-243 (P1), permissive per-record error skip
KafkaConsumerTopKJob.kt:104-108 (F5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from topk_spark.session import ensure_session_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# testdata `events.ts` is parquet TIMESTAMP(NANOS): Spark reads it as a long
# (nanosAsLong conf) and we convert ns → µs timestamp here. DuckDB truncates
# to µs the same way, so oracle comparisons line up exactly.
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table with normalized time columns.

    Normalizations (applied lazily, never materialized):
    - long nanosecond columns → TimestampType (µs, UTC session)
    - timestamp_ntz → TimestampType so time functions (unix_millis, window)
      work uniformly; session TZ is pinned UTC so values are unchanged.
    """
    ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Kafka + JSON event stream (S1/S2/P1/F5)
# ---------------------------------------------------------------------------

def kafka_source_options(
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The exact option contract of the Kafka source (S1,
    TopKStreamingJob.kt:221-237), as a plain dict so the contract is
    testable without a broker or the kafka connector jar:
    - earliest offsets ↔ the reference's `setStartingOffsets(earliest)`;
    - failOnDataLoss=false ↔ the reference's tolerance of expired offsets
      (at-least-once posture, OffsetsInitializer.earliest());
    - maxOffsetsPerTrigger is the Spark analog of Pinot's segment flush
      thresholds (S7): it bounds micro-batch size so state/shuffle stay
      sized for executor memory at any ingest rate."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Kafka source (S1, TopKStreamingJob.kt:221-237); options
    built by `kafka_source_options` (the broker-free testable contract)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        topic, bootstrap_servers, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def parse_json_events(raw: DataFrame, schema: StructType, value_col: str = "value") -> DataFrame:
    """JSON string → typed columns (P1) with permissive error skipping (F5).

    Malformed records yield a null struct from `from_json` and are filtered —
    the Spark analog of the reference's per-record try/catch
    (KafkaConsumerTopKJob.kt:104-108) and Pinot's `continueOnError`
    (orders_raw_upsert_table.json:60). Stays entirely JVM-side.
    """
    return (
        raw.select(F.from_json(F.col(value_col).cast("string"), schema).alias("data"))
        .filter(F.col("data").isNotNull())
        .select("data.*")
    )


def read_json_file_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-based stand-in for a Kafka topic in tests (no broker needed);
    each JSON-lines file plays the role of a batch of Kafka records."""
    return spark.readStream.schema(schema).json(path)
