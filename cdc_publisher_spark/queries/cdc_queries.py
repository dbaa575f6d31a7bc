"""CDC-kernel queries — the reference's own relational surface
(SURVEY.md §2.1 T3/F1/P1/A1/A2), hash-checked.

The driver's tables carry no CCD fixtures, so the control-stream shape
is derived deterministically from ``events``: key=user_id,
offset=event_id, status=event_type, queue='aq.q_<user_id>'. The
operators under test are the real kernel modules (cdc/), not inline
re-implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_publisher_spark.cdc.keying import key_from_id_map
from cdc_publisher_spark.cdc.latest_state import latest_per_key, max_offset
from cdc_publisher_spark.registry import register
from cdc_publisher_spark.tables import load


def _ccd_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events re-keyed as a CCD control stream (see module docstring)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("offset"),
        F.col("event_type").alias("status"),
        F.concat(F.lit("aq.q_"), F.col("user_id").cast("string")).alias("queue"),
        F.col("ts"),
    )


@register(
    "q_cdc_latest_state",
    family="CDC",
    doc="A1 latest-value-per-key over the control stream "
    "(kafka_ccd_store.clj:28-42) via cdc.latest_state.latest_per_key "
    "(max_by aggregate, no window shuffle).",
    oracle="""
        SELECT key, off AS last_offset, status AS last_status, queue
        FROM (
            SELECT user_id AS key, event_id AS off, event_type AS status,
                   'aq.q_' || CAST(user_id AS VARCHAR) AS queue,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
        ORDER BY key
    """,
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ccds = _ccd_stream(spark, sf_dir)
    latest = latest_per_key(ccds, "key", "offset")
    return latest.select(
        "key",
        F.col("offset").alias("last_offset"),
        F.col("status").alias("last_status"),
        "queue",
    ).orderBy("key")


@register(
    "q_cdc_active_routes",
    family="CDC",
    doc="F1+P1: filter the latest CCD state to active ('purchase' here) "
    "and project queue names (jms_publisher.clj:132,207) — the set of "
    "routes the fan-out would install.",
    oracle="""
        SELECT key, queue
        FROM (
            SELECT user_id AS key, event_type AS status,
                   'aq.q_' || CAST(user_id AS VARCHAR) AS queue,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND status = 'purchase'
        ORDER BY key
    """,
)
def q_cdc_active_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ccds = _ccd_stream(spark, sf_dir)
    latest = latest_per_key(ccds, "key", "offset")
    return (
        latest.filter(F.col("status") == "purchase")
        .select("key", "queue")
        .orderBy("key")
    )


@register(
    "q_cdc_resume_token",
    family="CDC",
    doc="A2: max-offset resume token with empty-snapshot default 0 "
    "(kafka_ccd_store.clj:133).",
    oracle="""
        SELECT COALESCE(MAX(event_id), 0) AS resume_offset
        FROM events
    """,
)
def q_cdc_resume_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    ccds = _ccd_stream(spark, sf_dir)
    return max_offset(ccds, "offset")


@register(
    "q_cdc_key_derivation",
    family="CDC",
    doc="T3 deterministic key derivation (core.clj:13-22) through the "
    "engine's key expression (cdc/keying.py, JVM built-ins only) on a "
    "two-column primary key; the oracle formats the same "
    "sorted-flattened JSON array by string concat "
    "('l_orderkey' < 'line' in codepoint order).",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               '["l_orderkey",' || CAST(l_orderkey AS VARCHAR)
                 || ',"line",' || CAST(l_linenumber AS VARCHAR) || ']' AS kafka_key
        FROM lineitem
        WHERE l_orderkey < 300
        ORDER BY l_orderkey, l_linenumber
    """,
)
def q_cdc_key_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    id_map = F.create_map(
        F.lit("l_orderkey"),
        F.col("l_orderkey").cast("long"),
        F.lit("line"),
        F.col("l_linenumber").cast("long"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        key_from_id_map(id_map).alias("kafka_key"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "q_cdc_apply_batch",
    family="CDC",
    doc="CDC apply (operators/cdc_apply.py) as a batch transform: "
    "events re-keyed as changes (signup=insert, error=delete, "
    "else update) applied onto a customer-derived snapshot — "
    "latest-wins per key, upsert+delete semantics, SQL-oracle-checked.",
    oracle="""
        WITH snapshot AS (
            SELECT c_custkey AS pk, c_mktsegment AS segment,
                   ROUND(c_acctbal, 4) AS bal
            FROM customer WHERE c_custkey < 150
        ),
        changes AS (
            SELECT user_id AS pk, event_id AS seq,
                   CASE event_type WHEN 'signup' THEN 'insert'
                                   WHEN 'error' THEN 'delete'
                                   ELSE 'update' END AS op,
                   event_type AS segment, ROUND(value, 4) AS bal
            FROM events
        ),
        latest AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC) rn
                FROM changes
            ) WHERE rn = 1
        )
        SELECT pk, segment, bal FROM snapshot
        WHERE pk NOT IN (SELECT pk FROM latest)
        UNION ALL
        SELECT pk, segment, bal FROM latest WHERE op IN ('insert', 'update')
        ORDER BY pk
    """,
)
def q_cdc_apply_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.cdc_apply import apply_changes

    cust = load(spark, sf_dir, "customer")
    snapshot = cust.filter(F.col("c_custkey") < 150).select(
        F.col("c_custkey").alias("pk"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 4).alias("bal"),
    )
    ev = load(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("pk"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.col("event_type").alias("segment"),
        F.round("value", 4).alias("bal"),
    )
    return apply_changes(snapshot, changes, ["pk"], "seq").orderBy("pk")


@register(
    "q_cdc_scd2_history",
    family="CDC",
    doc="SCD2 history from the CDC change log (operators/scd2.py): "
    "every insert/update opens a version, any later change (delete "
    "included) closes it via one lead() window — single shuffle, no "
    "change-log self-join. Keys whose last change is a delete have no "
    "current version.",
    oracle="""
        WITH changes AS (
            SELECT user_id AS pk, event_id AS seq,
                   CASE event_type WHEN 'signup' THEN 'insert'
                                   WHEN 'error' THEN 'delete'
                                   ELSE 'update' END AS op,
                   event_type AS segment, ROUND(value, 4) AS bal
            FROM events
        ),
        closed AS (
            SELECT *, lead(seq) OVER (PARTITION BY pk ORDER BY seq) AS valid_to
            FROM changes
        )
        SELECT pk, segment, bal, seq AS valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM closed WHERE op IN ('insert', 'update')
        ORDER BY pk, valid_from
    """,
)
def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.scd2 import scd2_history

    ev = load(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("pk"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.col("event_type").alias("segment"),
        F.round("value", 4).alias("bal"),
    )
    return scd2_history(changes, ["pk"], "seq").orderBy("pk", "valid_from")


@register(
    "q_cdc_time_travel",
    family="CDC",
    doc="Time travel via the SCD2 history (operators/scd2.py "
    "snapshot_asof): table state as of seq 2500 — one filter over the "
    "versioned history, the lakehouse-format-free answer to 'what did "
    "this table look like at T'. Deletes are correct by construction: "
    "a version closed by a delete simply fails the validity predicate.",
    oracle="""
        WITH changes AS (
            SELECT user_id AS pk, event_id AS seq,
                   CASE event_type WHEN 'signup' THEN 'insert'
                                   WHEN 'error' THEN 'delete'
                                   ELSE 'update' END AS op,
                   event_type AS segment, ROUND(value, 4) AS bal
            FROM events
        ),
        closed AS (
            SELECT *, lead(seq) OVER (PARTITION BY pk ORDER BY seq) AS valid_to
            FROM changes
        )
        SELECT pk, segment, bal, seq AS valid_from,
               COALESCE(valid_to, -1) AS valid_to
        FROM closed
        WHERE op IN ('insert', 'update')
          AND seq <= 2500 AND (valid_to IS NULL OR valid_to > 2500)
        ORDER BY pk
    """,
)
def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_publisher_spark.operators.scd2 import scd2_history, snapshot_asof

    ev = load(spark, sf_dir, "events")
    changes = ev.select(
        F.col("user_id").alias("pk"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.col("event_type").alias("segment"),
        F.round("value", 4).alias("bal"),
    )
    hist = scd2_history(changes, ["pk"], "seq")
    return (
        snapshot_asof(hist, F.lit(2500))
        .select(
            "pk",
            "segment",
            "bal",
            "valid_from",
            F.coalesce("valid_to", F.lit(-1)).cast("bigint").alias("valid_to"),
        )
        .orderBy("pk")
    )
