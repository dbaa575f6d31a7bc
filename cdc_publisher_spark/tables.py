"""Synthetic-table registry (TESTDATA.md / FIXTURES.md §1).

Ten driver-generated parquet tables per scale factor. All engine queries
load through here so scans share one code path (and one place to attach
schema hints / bucketing later).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES: tuple[str, ...] = (
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

#: Small dimension tables that should always broadcast in joins.
DIM_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Tables below this on-disk size keep their native scan layout: the
#: per-row work downstream is too small to pay even a tiny exchange.
_SPREAD_MIN_BYTES = 128 * 1024

#: Cache of scan partition counts, so repeated load() calls (every
#: query build) don't re-derive one. Keyed by (application id, path,
#: total size, newest file mtime) — the count depends on session config
#: (maxPartitionBytes, parallelism) and the on-disk layout, so a second
#: session in the same process, or a file rewritten under the path —
#: for a directory table, any file in it — must not read a stale count.
#: Cleared whenever a new application id appears, so entries of stopped
#: sessions do not pile up.
_SCAN_PARTS: dict[tuple, int] = {}

#: Unique row key per table (where one exists) for the keyed spread.
_SPREAD_KEYS: dict[str, str] = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "orders": "o_orderkey",
    "events": "event_id",
}


def _spread_small_scan(spark: SparkSession, df: DataFrame, path: str, key) -> DataFrame:
    """Scale-adaptive scan parallelism (optimization guide §2.5: 'one
    huge unsplittable file ... repartition immediately after the read').

    The driver's test tables are single-file, single-row-group parquet:
    byte-range splitting cannot parallelize them, so a pre-shuffle
    stage (explode, hash, regex split — the expensive part of some text
    operators) runs on ONE core however many the session has. When the
    scan yields fewer partitions than the session's parallelism AND the
    table is big enough for per-row work to matter, insert one
    round-robin repartition so downstream row work uses every core.

    OPT-IN (``load(..., spread=True)``), not blanket: a full-bench A/B
    this round measured the blanket form a net LOSS (30.2 s -> 41.3 s
    total at sf0.1) — most queries reach a hash exchange (window /
    groupBy / join) within one cheap projection of the scan and are
    already parallel from there, so an extra exchange per scan is pure
    overhead (one more AQE stage barrier + sort-before-repartition +
    full-row shuffle). The queries that DO opt in are the ones whose
    first exchange sits ABOVE a heavy generator (kgram/ngram explode
    feeding a partial aggregate or join map-side), where the same A/B
    measured 1.3-2.3x per-query wins (q_k66 0.44x, q_k54 0.64x,
    q_k65 0.80x ratios).

    Scale behavior: at production scale a table is many files /
    row groups, the scan already yields >= defaultParallelism
    partitions, and this is a NO-OP — the condition is derived from the
    actual file layout, not tuned to local mode. Determinism: round-
    robin repartition sorts before exchanging (sortBeforeRepartition,
    on by default) so row placement is reproducible run-to-run; all
    registered queries are partition-order-robust by the registry's
    hash-stability rules (sorted collect_list, rounded/decimal-summed
    aggregates), re-verified by the full 216-query oracle sweep."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            size, mtime = st.st_size, st.st_mtime_ns
        else:
            size, mtime = 0, 0
            for r, _, fs in os.walk(path):
                for f in fs:
                    st = os.stat(os.path.join(r, f))
                    size += st.st_size
                    mtime = max(mtime, st.st_mtime_ns)
    except OSError:
        return df
    if size < _SPREAD_MIN_BYTES:
        return df
    target = spark.sparkContext.defaultParallelism
    app = spark.sparkContext.applicationId
    if any(k[0] != app for k in _SCAN_PARTS):
        _SCAN_PARTS.clear()
    cache_key = (app, path, size, mtime)
    if cache_key not in _SCAN_PARTS:
        _SCAN_PARTS[cache_key] = df.rdd.getNumPartitions()
    if _SCAN_PARTS[cache_key] >= target:
        return df
    # Hash-repartition on the table's unique row key where one exists,
    # round-robin otherwise: the keyed form skips the local
    # sort-before-repartition a round-robin exchange pays, stays
    # deterministic under task retry (guide §2.5 — no rand-derived
    # placement), and its hashpartitioning is PRESERVED through
    # Generate/project/broadcast-join, so downstream aggregates keyed
    # by (or by a superset of) the row key reuse it instead of paying
    # their own exchange. Unique key -> even hash spread.
    row_key = _SPREAD_KEYS.get(key[1])
    if row_key is not None:
        return df.repartition(target, row_key)
    return df.repartition(target)


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown happen at the
    parquet reader via Catalyst (both push through the adaptive
    repartition ``spread=True`` may insert — verified in the r15 plan
    artifacts)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    from cdc_publisher_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives
    # as int64 nanos. Truncate to µs exactly like DuckDB does reading
    # the same file, so oracle comparisons see identical instants.
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if name == "events" and schema.get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if spread and name not in DIM_TABLES:
        df = _spread_small_scan(spark, df, path, (sf_dir, name))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view, for the SQL entry points."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame, out_dir: str, partition_cols: list[str], compression: str = "zstd"
) -> None:
    """Partitioned parquet writer — the engine's table-materialization
    path. Hive-style partition directories give partition PRUNING on
    read (PartitionFilters in the scan): a date/tenant filter at 100 TB
    skips whole directories instead of reading row groups. zstd mirrors
    the analytic-table compression choice (the reference uses lz4 on
    its Kafka producer for the wire path)."""
    df.write.mode("overwrite").option("compression", compression).partitionBy(
        *partition_cols
    ).parquet(out_dir)
