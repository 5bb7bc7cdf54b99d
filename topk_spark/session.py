"""SparkSession factory + session hardening.

The reference pins semantics that Spark does not default to:
- UTC wall-clock everywhere (reference uses ZoneId.systemDefault(),
  TopKStreamingJob.kt:165 — we pin UTC and document the divergence,
  SURVEY.md §7 risk 3).
- AQE on (runtime re-planning; skew-join mitigation at scale).
- Driver testdata stores `events.ts` as parquet TIMESTAMP(NANOS) which Spark
  cannot read natively → `spark.sql.legacy.parquet.nanosAsLong` + an explicit
  ns→timestamp conversion in io.sources.load_table.

``ensure_session_conf(spark)`` runs inside ``io.sources.load_table`` (the read the
registered queries start from) and ``get_spark``, so the engine behaves
identically under a driver-provided SparkSession.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query depends on.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long + convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Overflow and invalid casts raise instead of wrapping or yielding NULL.
    # Spark 4 defaults to this already; pinned so a session built with
    # ANSI off cannot change any query's result.
    "spark.sql.ansi.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Result-neutral but 5-6x on the stateful drains under a driver-owned
    # session: Spark's default 200 shuffle partitions means 200 state-store
    # instances per stateful operator per micro-batch (AQE does not coalesce
    # streaming stateful shuffles, and the count is baked into each fresh
    # checkpoint). Runtime-settable, so every query fn sizes it to the
    # machine instead of inheriting the 200 default (round-12: the vanilla
    # full-registry sweep spent most of its wall clock here).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}

# Set-at-build confs (best effort when the session already exists).
_BUILD_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing (possibly driver-owned)
    session. Idempotent and cheap; `load_table` calls it on every table read."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — session factory already set it
    return spark


# Streaming state-store providers. The docstrings of the stateful operators
# (streaming/neardup.py, embed_neardup.py, stateful_dedup.py) promise RocksDB
# in production: at 100 TB the default HDFS-backed store keeps every state
# map ON-HEAP per executor and becomes the binding constraint; RocksDB spills
# state to local disk with bounded memory. The conf is read at STREAMING
# QUERY START, so it can be flipped per query on a live session.
_STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

_STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"


def set_state_store(spark: SparkSession, kind: str = "rocksdb") -> bool:
    """Select the state-store backend for streaming queries started AFTER
    this call. Returns True if the provider class is present and the conf
    was applied; False (with a stderr warning, conf untouched) on a build
    without it — callers keep the default HDFS-backed store."""
    cls = _STATE_STORE_PROVIDERS[kind]
    try:
        # Probe the classloader so a missing provider fails HERE, not as an
        # opaque error inside a running streaming query.
        spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
    except Exception:
        import sys

        print(
            f"warning: state-store provider {cls} not on classpath; "
            "keeping current provider",
            file=sys.stderr,
        )
        return False
    spark.conf.set(_STATE_STORE_CONF, cls)
    return True


def get_spark(app_name: str = "topk_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a session configured for this engine.

    local[N] for tests/bench; on a real cluster the same confs apply —
    partitioning strategy is encoded in the operators, not the master URL.
    `set_state_store(spark, "rocksdb")` selects the disk-backed streaming
    state store afterwards.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in {**_BUILD_CONF, **_RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_session_conf(spark)
