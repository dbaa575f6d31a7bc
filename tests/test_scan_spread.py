"""r15 optimization: scale-adaptive scan parallelism (tables.load).

The driver's test tables are single-file, single-row-group parquet, so
byte-range splitting cannot parallelize them and a pre-shuffle stage
(explode/hash — the expensive part of the gram-explode text operators)
runs on ONE core. ``load(..., spread=True)`` inserts one repartition
(hash on the table's unique row key where registered, round-robin
otherwise) when (and only when) the scan yields fewer partitions than
the session's parallelism AND the table is big enough to matter
(>= 128 KiB on disk). It is OPT-IN per query: a full-bench A/B this
round measured the blanket form a net loss (most queries reach a hash
exchange within one projection of the scan and are already parallel),
while the gram-explode queries that opt in (q_k54/q_k65/q_k66)
measured 1.2-2.3x wins. At production scale the scan already yields
>= defaultParallelism partitions and the spread is a NO-OP — these
tests pin both sides of that contract plus the property the guide
(§6) says must survive: pushdown/pruning still reach the scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_publisher_spark import tables
from cdc_publisher_spark.tables import load

SF01 = "/root/testdata/sf0.1"
# Size-threshold tests pin the EXPLICIT sf0.01 path rather than the
# env-overridable sf_oracle fixture (ADVICE r15): pointing
# SPARK_GRAFT_TEST_SF_DIR at a bigger SF would push documents over the
# 128 KiB spread floor and fail these tests spuriously.
SF001 = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_default_load_never_spreads(spark, sf_oracle):
    # spread is opt-in: a bare load() must stay a bare scan
    for name in ("nation", "documents", "lineitem"):
        plan = _plan(load(spark, sf_oracle, name))
        assert "Exchange" not in plan, (name, plan)


def test_small_tables_keep_native_scan_even_opted_in(spark):
    # nation is a DIM table; documents at sf0.01 is under the 128 KiB
    # spread floor — neither may pay an exchange even with spread=True
    import os

    from cdc_publisher_spark.tables import _SPREAD_MIN_BYTES, table_path

    assert os.path.getsize(table_path(SF001, "documents")) < _SPREAD_MIN_BYTES
    for name in ("nation", "documents"):
        plan = _plan(load(spark, SF001, name, spread=True))
        assert "Exchange" not in plan, (name, plan)


def test_large_single_file_scan_is_spread(spark):
    # documents at sf0.1 is one ~580 KiB single-row-group file: the scan
    # yields 1 partition, so spread=True must insert ONE repartition up
    # to the session's parallelism — keyed on the table's unique row
    # key (hashpartitioning survives Generate/joins downstream and
    # skips round-robin's local sort; retry-deterministic placement)
    df = load(spark, SF01, "documents", spread=True)
    plan = _plan(df)
    assert "hashpartitioning(doc_id" in plan.lower(), plan
    target = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == target


def test_keyless_table_spread_falls_back_to_round_robin(spark):
    # lineitem has no single-column unique key registered: the spread
    # must use round-robin there
    df = load(spark, SF01, "lineitem", spread=True)
    plan = _plan(df)
    assert "roundrobinpartitioning" in plan.lower(), plan


def test_spread_is_noop_when_scan_already_parallel(spark, sf_oracle):
    # The scale contract: when the scan layout already yields >= the
    # session's parallelism, no repartition is added. Simulated by the
    # exact branch load() takes — a cached scan-partition count at or
    # above target returns the frame untouched.
    import os

    path = tables.table_path(sf_oracle, "lineitem")
    st = os.stat(path)
    key = (
        spark.sparkContext.applicationId,
        path,
        os.path.getsize(path),
        st.st_mtime_ns,
    )
    old = tables._SCAN_PARTS.get(key)
    try:
        tables._SCAN_PARTS[key] = spark.sparkContext.defaultParallelism
        plan = _plan(load(spark, sf_oracle, "lineitem", spread=True))
        assert "roundrobinpartitioning" not in plan.lower(), plan
    finally:
        if old is None:
            tables._SCAN_PARTS.pop(key, None)
        else:
            tables._SCAN_PARTS[key] = old


def test_pushdown_and_pruning_survive_the_spread(spark):
    # guide §6: predicate pushdown and column pruning must reach the
    # parquet scan THROUGH the inserted exchange
    df = (
        load(spark, SF01, "lineitem", spread=True)
        .filter(F.col("l_quantity") < 5)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "roundrobinpartitioning" in plan.lower(), plan  # keyless table
    scan = plan[plan.index("FileScan parquet") :]
    first_line = scan.splitlines()[0]
    assert "l_quantity" in first_line and "l_extendedprice" not in first_line
    assert "PushedFilters: [" in scan
    assert "LessThan(l_quantity" in scan


def test_spread_rows_identical(spark):
    # the spread changes layout, never content: multiset equality on a
    # spread table vs the raw reader. Pinned to the explicit sf0.01
    # path (ADVICE r15) where orders (281 KiB) is known to fire.
    a = load(spark, SF001, "orders", spread=True)
    b = spark.read.parquet(tables.table_path(SF001, "orders"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_rewritten_file_in_directory_table_invalidates_cached_count(spark, tmp_path):
    # A directory table's cache key must see a file rewritten in place
    # at equal total size: the directory's own mtime does not move when
    # a file inside it is rewritten, so it is the newest FILE mtime that
    # keys the cached scan-partition count.
    import os

    sf_dir = str(tmp_path)
    path = tables.table_path(sf_dir, "documents")
    spark.read.parquet(tables.table_path(SF01, "documents")).coalesce(1).write.parquet(path)
    load(spark, sf_dir, "documents", spread=True)
    stale = [k for k in tables._SCAN_PARTS if k[1] == path]
    assert len(stale) == 1
    # poison the cached count: reused, it would make the spread a no-op
    tables._SCAN_PARTS[stale[0]] = spark.sparkContext.defaultParallelism
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    part = os.path.join(path, part)
    data = open(part, "rb").read()
    with open(part, "wb") as fh:
        fh.write(data)
    st = os.stat(part)
    # same bytes, same size; only the mtime moves (pinned past the old
    # one in case the filesystem's timestamps are coarse)
    os.utime(part, ns=(st.st_atime_ns, stale[0][3] + 1_000_000_000))
    plan = _plan(load(spark, sf_dir, "documents", spread=True))
    assert "hashpartitioning(doc_id" in plan.lower(), plan
    assert len([k for k in tables._SCAN_PARTS if k[1] == path]) == 2
