"""File-based DML source (SURVEY.md §2.2 A-3: the S3 stand-in).

The reference's data plane is push-based JMS delivery of JSON CLOBs
(jms_publisher.clj:169-194). With no Oracle AQ in reach, the engine
ingests the same payloads from files: each line/file is one raw DML
JSON string. Batch and streaming readers share one schema so the same
downstream pipeline runs in either mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RAW_SCHEMA = T.StructType([T.StructField("raw", T.StringType())])


def read_dml_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch read: one raw JSON document per line (spark.read.text —
    no schema inference; the payload stays an opaque string, exactly
    like the reference's CLOB read). In an engine session under a local
    master the glob's files are listed on the driver, so building the
    frame launches no Spark job however many files match (session.py)."""
    return spark.read.text(path).select(F.col("value").alias("raw"))


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, staging_dir: str
) -> DataFrame:
    """Replay a synthetic table as a stream (family I tests/demos).

    FileStreamSource requires a directory; the testdata tables are
    single parquet files, so stage a symlink under ``staging_dir``.
    Applies the same ns->µs timestamp conversion as tables.load so the
    streaming and batch views of a table are schema-identical.
    """
    import os

    from cdc_publisher_spark.tables import table_path

    src_file = table_path(sf_dir, name)
    stage = os.path.join(staging_dir, f"stream_{name}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{name}.parquet")
    if not os.path.exists(link):
        os.symlink(src_file, link)
    raw_schema = spark.read.parquet(src_file).schema
    df = spark.readStream.schema(raw_schema).parquet(stage)
    fields = {f.name: f.dataType.simpleString() for f in raw_schema.fields}
    if name == "events" and fields.get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_dml_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of the same layout. ``maxFilesPerTrigger`` is the
    pacing knob (the reference paces via sync-send backpressure,
    kafka_queue_writer.clj:87; micro-batch pacing is the Spark form).
    Each micro-batch re-lists its files when it is planned; in an engine
    session under a local master that listing runs on the driver
    (session.py), so a ``maxFilesPerTrigger`` above 32 no longer costs a
    listing job per trigger."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        # pass 0/negative through: Spark rejects them loudly at stream
        # start, which beats silently running unpaced
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path).select(F.col("value").alias("raw"))
