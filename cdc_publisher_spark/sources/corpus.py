"""Document-corpus ingestion source (JSONL) — SURVEY.md §2.2 A-family
extension for the LLM-data side.

Web-scale corpora arrive as JSONL (one document object per line), not
parquet. This source reads the layout as TEXT and parses with
``from_json`` against an EXPLICIT schema, once per line (the DML
pipeline's discipline, cdc/envelope.py, there with VARIANT because the
id map's value types vary): a line that fails to parse yields a NULL
struct and becomes dead-letter DATA, never an exception and never a
second scan. (Schema inference is deliberately absent: at
100 TB an inference pass is a full extra read, and drifting inferred
types break downstream queries silently. Spark's PERMISSIVE
``_corrupt_record`` channel is also avoided — it cannot be queried
without caching the scan.)

Batch and streaming variants share one parse expression, so a crawl
replays as micro-batches with identical semantics (the stream==batch
property the engine pins everywhere else).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: documents-table schema (FIXTURES.md §1).
DOCUMENT_STRUCT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _parse(raw: DataFrame) -> DataFrame:
    doc = F.from_json(F.col("raw_line"), DOCUMENT_STRUCT)
    return raw.select(
        F.col("raw_line"),
        doc.alias("doc"),
        (doc.isNull() | doc["doc_id"].isNull()).alias("is_malformed"),
    )


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Batch JSONL read: (raw_line, doc struct, is_malformed)."""
    return _parse(spark.read.text(path).withColumnRenamed("value", "raw_line"))


def stream_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Streaming variant (micro-batch crawl ingest); same parse
    expression and malformed semantics as the batch reader."""
    return _parse(spark.readStream.text(path).withColumnRenamed("value", "raw_line"))


def split_documents(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good documents in table schema, dead letters). Dead rows keep
    the offending line verbatim for the E1/E2 hooks."""
    good = parsed.filter(~F.col("is_malformed")).select("doc.*")
    dead = parsed.filter(F.col("is_malformed")).select("raw_line")
    return good, dead


def write_documents_jsonl(docs: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Corpus export twin (JSONL out), for interchange with non-Spark
    tooling."""
    docs.write.mode(mode).json(path)
