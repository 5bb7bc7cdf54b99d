"""Change-data-capture apply: replay an ordered upsert/delete log into
final table state — the storage-level dedup (SURVEY §2 D4) generalized to
full CDC semantics (inserts, updates, deletes), which is what a lakehouse
MERGE pipeline does on every sync.

The change log is derived deterministically from `events`: signup → I,
error → D, everything else → U. Replay order is (ts, event_id) per user.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register


@register(
    "cdc_latest_state",
    tags=("cdc", "storage"),
    oracle="""
WITH log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
),
final AS (SELECT * FROM ranked WHERE rn = 1)
SELECT f.user_id,
       f.value_cents AS last_value_cents,
       s.n_upserts,
       s.n_deletes
FROM final f
JOIN (
  SELECT user_id,
         CAST(sum(CASE WHEN op IN ('I','U') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_upserts,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deletes
  FROM log GROUP BY user_id
) s USING (user_id)
WHERE f.op <> 'D'
""",
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay to final state WITHOUT a window sort: one hash aggregate
    per user with `max_by(payload, (ts, event_id))` picks the terminal
    operation (struct ordering = replay order), upsert/delete tallies ride
    the same pass, and users whose LAST op is a delete drop out — MERGE
    semantics (I/U upsert, D remove) in a single shuffle. The oracle
    replays via row_number, proving the aggregate shortcut equals true
    log-order replay. At 100 TB: no per-user sort, no window state — just
    a partial+final agg on user_id; this is how you compact a CDC topic
    into a snapshot without ever materializing per-key history."""
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        cents("value")
        .alias("value_cents"),
    )
    ordkey = F.struct("ts", "event_id")
    return (
        log.groupBy("user_id")
        .agg(
            F.max_by("op", ordkey).alias("last_op"),
            F.max_by("value_cents", ordkey).alias("last_value_cents"),
            F.sum(F.col("op").isin("I", "U").cast("long")).alias("n_upserts"),
            F.sum((F.col("op") == "D").cast("long")).alias("n_deletes"),
        )
        .filter(F.col("last_op") != "D")
        .select("user_id", "last_value_cents", "n_upserts", "n_deletes")
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation: digest-based table diff
# ---------------------------------------------------------------------------


@register(
    "snapshot_hash_diff",
    tags=("cdc", "reconciliation"),
    oracle="""
WITH a AS (
  SELECT event_id, user_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
  FROM events
),
b AS (  -- the drifted replica: 1-in-97 rows got +1 cent, 1-in-501 dropped
  SELECT event_id, user_id, event_type,
         value_cents + CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END
           AS value_cents
  FROM a WHERE event_id % 501 <> 0
),
da AS (SELECT event_id,
              md5(concat_ws('|', event_id, user_id, event_type, value_cents))
                AS dg FROM a),
db AS (SELECT event_id,
              md5(concat_ws('|', event_id, user_id, event_type, value_cents))
                AS dg FROM b)
SELECT CASE WHEN db.event_id IS NULL THEN 'removed'
            WHEN da.dg <> db.dg THEN 'changed' END AS diff_type,
       count(*) AS n
FROM da FULL OUTER JOIN db ON da.event_id = db.event_id
WHERE db.event_id IS NULL OR da.event_id IS NULL OR da.dg <> db.dg
GROUP BY 1
""",
)
def snapshot_hash_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot reconciliation by row digest: both sides reduce to
    (key, md5(canonical row serialization)) — constant-width regardless of
    row width — then ONE full-outer join on the key classifies every drift
    as removed / added / changed without ever comparing full rows across
    the wire. The drifted replica here is synthesized in-plan (+1 cent on
    1-in-97 rows, 1-in-501 rows dropped) so the oracle can rebuild it
    exactly. At 100 TB this is how replica validation actually runs:
    digests shuffle, payloads don't; columns fold into the digest
    canonically (ints + cents, no float/ts formatting drift)."""
    e = load_table(spark, sf_dir, "events")
    a = e.select(
        "event_id",
        "user_id",
        "event_type",
        cents("value")
        .alias("value_cents"),
    )
    b = a.filter(F.col("event_id") % 501 != 0).withColumn(
        "value_cents",
        F.col("value_cents")
        + (F.col("event_id") % 97 == 0).cast("long"),
    )

    def dig(df):
        return df.select(
            "event_id",
            F.md5(
                F.concat_ws(
                    "|", "event_id", "user_id", "event_type", "value_cents"
                )
            ).alias("dg"),
        )

    da, db = dig(a), dig(b.select(a.columns))
    j = da.alias("a").join(
        db.alias("b"), F.col("a.event_id") == F.col("b.event_id"), "full_outer"
    )
    return (
        j.filter(
            F.col("b.event_id").isNull()
            | F.col("a.event_id").isNull()
            | (F.col("a.dg") != F.col("b.dg"))
        )
        .select(
            F.when(F.col("b.event_id").isNull(), F.lit("removed"))
            .when(F.col("a.dg") != F.col("b.dg"), F.lit("changed"))
            .alias("diff_type")
        )
        .groupBy("diff_type")
        .agg(F.count("*").alias("n"))
    )
