"""Sources: driver testdata parquet and the live JSON order stream (S1/P1/F5).

At 100 TB the scan layer is where queries are won: every loader here returns a
*plain* DataFrame so Catalyst keeps predicate pushdown, column pruning and
partition pruning intact (no collect, no pandas materialization).

Reference citations: Kafka source TopKStreamingJob.kt:221-237 (S1), JSON
parse TopKStreamingJob.kt:240-243 (P1), per-record error skip
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


def read_json_file_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The live ingest source: a directory of JSON-lines files stands in for
    the order topic (no Kafka connector ships with this build). Each file
    plays the role of a batch of Kafka records, parsed into `schema` (P1).

    Malformed lines are dropped (F5): the reference's consumer skips a
    record it cannot parse (KafkaConsumerTopKJob.kt:104-108) and Pinot's
    `continueOnError` does the same (orders_raw_upsert_table.json:60). The
    reader's default PERMISSIVE mode would instead turn the line into an
    all-null row that lands in the raw table."""
    return spark.readStream.schema(schema).option("mode", "DROPMALFORMED").json(path)
