"""Scalar time/derivation expressions shared across operators.

Pin down the reference's time semantics once, test them once, reuse everywhere:
- epoch-floored tumbling buckets (P7, KafkaConsumerTopKJob.kt:145-150) — Spark's
  `window()` uses identical epoch-aligned flooring;
- hour-of-day / ISO day-of-week (P8, TopKStreamingJob.kt:162-179): Spark's
  `dayofweek` is 1=Sunday, the reference uses java.time ISO 1=Monday → convert;
- 64-bit revenue arithmetic (P5): the reference multiplies Int×Int before
  widening in one site (KafkaConsumerTopKJob.kt:187, a latent overflow bug) —
  the engine widens first (`streaming/job.py` derives `revenue_cents`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def iso_dayofweek(ts: Column | str) -> Column:
    """ISO day-of-week 1=Mon..7=Sun (java.time semantics,
    TopKStreamingJob.kt:179). Spark's dayofweek is 1=Sun..7=Sat."""
    return ((F.dayofweek(ts) + F.lit(5)) % F.lit(7) + F.lit(1)).cast("int")


def hour_of_day(ts: Column | str) -> Column:
    """Hour 0-23 of the (UTC) session timezone (TopKStreamingJob.kt:162-167)."""
    return F.hour(ts).cast("int")


def epoch_ms(ts: Column | str) -> Column:
    """Timestamp → epoch millis long (the reference's native time type)."""
    return F.unix_millis(F.col(ts) if isinstance(ts, str) else ts)


def floor_to_window_ms(ts: Column | str, window_ms: int) -> Column:
    """Epoch-aligned tumbling bucket start in ms:
    (ts_ms / window) * window (P7, KafkaConsumerTopKJob.kt:145-150)."""
    ms = epoch_ms(ts)
    return (ms - ms % F.lit(window_ms)).cast("long")
