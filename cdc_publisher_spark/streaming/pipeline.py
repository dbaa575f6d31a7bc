"""The CDC publish pipeline (SURVEY.md §3.3 mapping).

Reference path: AQ listener -> CLOB -> ``dml->msg`` (parse, sorted-id
key, verbatim value) -> keyed sync send to topic=queue name
(jms_publisher.clj:138-167, core.clj:13-22, kafka_queue_writer.clj:
82-98). Here the same transform is one projection over one scan,
identical for batch and micro-batch, built from JVM expressions only:

    raw -> try_parse_json (once) -> table, id (cdc/envelope.py)
        -> key from the sorted id map (cdc/keying.py)
        -> wire record (key, value=raw verbatim,
                        topic=table, or the dead-letter topic)

A message without a key (malformed JSON, no usable id) is a dead
letter: it keeps its raw payload as value, a NULL key and the
dead-letter topic, instead of blocking the queue head (the reference
redelivers poison messages forever by design; the engine makes the
E1/E2 hooks a side output, SURVEY.md §4.1 "Ordering"). ``key IS NULL``
holds exactly on the dead letters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_publisher_spark.cdc.envelope import with_envelope
from cdc_publisher_spark.cdc.keying import key_from_id_map
from cdc_publisher_spark.sources.wire import validate_wire

DEAD_TOPIC = "cdc-dead-letter"


def wire_records(raw_df: DataFrame, raw_col: str = "raw", dead_topic: str = DEAD_TOPIC) -> DataFrame:
    """Every message as a wire record (key, value, topic), from one scan
    and one parse.

    ``value`` is the input string byte-for-byte (property
    dml->msg-takes-value-as-is, core_test.clj:26-31); ``topic`` is the
    message's table (the reference publishes to topic=queue name,
    queue<->table 1:1 in its CCDs), or ``dead_topic`` where ``key`` is
    NULL.
    """
    keyed = with_envelope(raw_df, raw_col).withColumn("key", key_from_id_map(F.col("id"), F.col(raw_col)))
    return validate_wire(
        keyed.select(
            "key",
            F.col(raw_col).alias("value"),
            F.when(F.col("key").isNotNull(), F.col("table")).otherwise(F.lit(dead_topic)).alias("topic"),
        )
    )


def split_wire(
    raw_df: DataFrame, raw_col: str = "raw", dead_topic: str = DEAD_TOPIC
) -> tuple[DataFrame, DataFrame]:
    """(wire records, dead-letter wire records): two filters of
    :func:`wire_records`.

    Dead letters keep the raw payload as value with a NULL key and the
    dead-letter topic — the engine's E1 hook / E2 write-back channel
    (README.md:19-22 describes status write-back; the code version
    never implemented it, SURVEY.md §2.1 E2 — the engine does, as a
    topic route).
    """
    # The optimizer moves a filter below the projection that computes the
    # columns it reads, so a filter on ``key`` alone would parse and key
    # every message twice. A filter that also reads a nondeterministic
    # column stays above that projection.
    wire = wire_records(raw_df, raw_col, dead_topic).withColumn("_partition", F.spark_partition_id())
    pinned = F.col("_partition") >= 0
    good = wire.filter(F.col("key").isNotNull() & pinned).drop("_partition")
    dead = wire.filter(F.col("key").isNull() & pinned).drop("_partition")
    return good, dead


def error_writeback(
    dead_wire: DataFrame,
    control_topic: str = "change-data-capture",
    error_detail: str = "malformed DML payload",
) -> DataFrame:
    """E2 — status write-back (SURVEY.md §2.1 E2).

    The README spec (README.md:19-22) says unpublishable CCDs are
    posted back to the control topic with status='error' + details;
    the reference's code version never implemented it. The engine
    does: dead-letter wire records become control-topic records whose
    value is a CCD-shaped JSON with the error detail and the offending
    payload, keyed by the (possibly NULL) derived key.
    """
    ccd_error = F.to_json(
        F.struct(
            F.lit("error").alias("status"),
            F.lit(error_detail).alias("error"),
            F.col("value").alias("payload"),
            F.col("topic").alias("source_topic"),
        )
    )
    return dead_wire.select(
        F.col("key"),
        ccd_error.alias("value"),
        F.lit(control_topic).alias("topic"),
    )


def run_file_to_parquet(
    raw_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    dead_topic: str = DEAD_TOPIC,
):
    """End-to-end micro-batch pipeline with a parquet sink standing in
    for Kafka (same wire schema, partitioned by topic). Offsets commit
    to the checkpoint after each batch — the reference's
    commit-on-success dequeue contract (protocols/queue.clj:16-29) at
    micro-batch granularity."""
    from cdc_publisher_spark.streaming.metrics import with_wire_metrics

    # dead letters carry key=NULL on the wire, so the observed
    # dequeue/enqueue/malformed counters (M1) ride the one frame for free
    wire = with_wire_metrics(wire_records(raw_stream, dead_topic=dead_topic))
    return (
        wire.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("topic")
        .outputMode("append")
        .start()
    )
