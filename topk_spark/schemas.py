"""Declared StructTypes mirroring the reference's fixed record types.

Reference record types (SURVEY.md §1.2):
- OrderEvent        — TopKStreamingJob.kt:43-54 / Models.kt:9-21
- RollupEvent (1m)  — TopKStreamingJob.kt:59-72 / orders_1m_rollup_schema.json
- TopKResult        — Models.kt:39-49

Conventions carried over from the reference: snake_case JSON field names,
epoch-millis longs for time, integer cents for money (README.md:15), and an
ISO day-of-week (1=Mon..7=Sun, TopKStreamingJob.kt:179).
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Input event — the unit of the order stream (TopKStreamingJob.kt:43-54).
ORDER_EVENT = StructType(
    [
        StructField("event_id", StringType(), False),
        StructField("order_id", StringType(), False),
        StructField("customer_id", StringType(), True),
        StructField("restaurant_id", StringType(), False),
        StructField("menu_item_id", StringType(), False),
        StructField("category_id", StringType(), True),
        StructField("menu_item_name", StringType(), False),
        StructField("quantity", IntegerType(), False),
        StructField("price_in_cents", IntegerType(), False),
        StructField("timestamp", LongType(), False),  # epoch millis
    ]
)


GLOBAL_SENTINEL = "ALL"
