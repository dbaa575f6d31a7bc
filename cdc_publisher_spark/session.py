"""SparkSession factory.

Pins the configs the whole engine depends on (SURVEY.md §4.2):

- ``spark.sql.session.timeZone=UTC`` — hash-stability against the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- AQE on — runtime shuffle-partition coalescing + skew-join splitting;
  at 100 TB this is what keeps a static ``shuffle.partitions`` choice
  from being fatal.
- Arrow on — every pandas_udf / applyInPandas / mapInPandas path.
- ``spark.sql.variant.allowDuplicateKeys=true`` — a DML message with a
  repeated key keeps the last value, as Jackson (the reference's
  parser) does; without it ``try_parse_json`` turns the message into a
  dead letter (cdc/envelope.py).

One rule depends on the master: under a local master (``local``,
``local[N]``, ``local[*]``) ``get_session`` pins
``spark.sql.sources.parallelPartitionDiscovery.threshold`` above any path
count, so every file listing runs on the driver. Spark otherwise lists
more than 32 paths (a streaming micro-batch's files, a glob, a
partitioned state dir's subdirs) with a job of one task per path; in one
JVM those tasks stat the same local filesystem the driver sees, so the
job adds only scheduling and serialization (~0.5 s per 40-file CDC
catch-up trigger on a 4-core host). A cluster master keeps Spark's
default, because listing HDFS or an object store from many executors
can pay off. The conf is not in ``RUNTIME_CONFS``: a caller-owned
session keeps its own listing policy.

Local testing runs one JVM (``local[N]``); on a real cluster the same
builder is used with master/memory supplied by the deployment, so keep
anything cluster-specific out of here.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Defaults chosen for correctness + portability, not just local speed.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + filter pushdown are defaults,
    # pinned here so a misconfigured deployment can't silently lose them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Timestamps in our parquet are ns; read without rebase surprises.
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Read parquet isAdjustedToUTC=false timestamps as plain TIMESTAMP
    # (session TZ is pinned UTC, so instants match DuckDB's naive-UTC),
    # not TIMESTAMP_NTZ — half the datetime functions reject NTZ.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (events.ts) has no Spark type; read the
    # raw int64 and let tables.load() convert ns -> µs explicitly,
    # mirroring DuckDB's own ns -> µs truncation (FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep shuffle state small on local mode; AQE coalesces upward jobs.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    "spark.sql.variant.allowDuplicateKeys": "true",
}


#: Runtime-settable confs every engine query depends on. Applied
#: defensively to externally-owned sessions too (tables.load): the
#: driver contract hands us its own SparkSession, which won't have
#: ENGINE_CONFS.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.variant.allowDuplicateKeys": "true",
}

_configured_session_ids: set[int] = set()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Idempotently pin the read-path confs on any session (ours or a
    caller's). All of these are runtime-settable SQL confs."""
    if id(spark) in _configured_session_ids:
        return
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # non-settable on some deployments: keep going
            pass
    _configured_session_ids.add(id(spark))


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_session(
    app_name: str = "cdc_publisher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``shuffle_partitions`` defaults to the worker-thread count: right for
    local mode; a cluster deployment passes its own (or relies on AQE
    coalescing from a higher initial value).
    """
    # Executor Python workers must be able to import this package
    # (pandas UDFs pickle module functions by reference). Local-mode
    # workers inherit the JVM env, which inherits ours at launch.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root

    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    master = master or f"local[{cpus}]"
    builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        # list every path on the driver (module docstring)
        confs["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(2**31 - 1)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
