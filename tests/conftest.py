from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def pytest_collection_modifyitems(config, items):
    """Two collection rules.

    1. Fast default run (VERDICT r15 ask #1): tests marked ``slow`` —
       the sf0.01 oracle sweep and the multi-minute streaming drains —
       are DESELECTED unless ``SPARK_GRAFT_FULL_TESTS`` is set (or the
       user passed an explicit ``-m`` expression). The r15 driver
       verify timed out mid-suite (~35 min) and reported an unfinished
       run; the default run must fit the driver's budget while still
       covering every registered query once (the sf0.001 sweep in
       test_oracle_queries.py carries that coverage). The builder runs
       the FULL suite at least once per round — see ROUNDNOTES.md.

    2. Promote the transformWithStateInPandas twin to REQUIRED the
       moment its protobuf dependency appears in the environment: strip
       every skip marker from the tws tests so they cannot silently rot
       behind a stale guard. While protobuf is absent the skipif in
       test_streaming.py keeps them skipped as before."""
    if not os.environ.get("SPARK_GRAFT_FULL_TESTS") and not config.getoption("-m"):
        selected, deselected = [], []
        for item in items:
            (deselected if item.get_closest_marker("slow") else selected).append(item)
        if deselected:
            config.hook.pytest_deselected(items=deselected)
            items[:] = selected
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return
    for item in items:
        if "_tws_" in item.name or item.name.endswith("_tws"):
            item.own_markers = [
                m for m in item.own_markers if m.name not in ("skip", "skipif")
            ]


@pytest.fixture(scope="session")
def spark():
    from cdc_publisher_spark.session import get_session

    cpus = min(8, os.cpu_count() or 4)
    import tempfile

    s = get_session(
        app_name="cdc_publisher_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_confs={
            # static conf: must be set at build; keeps saveAsTable
            # (bucketing tests) out of the repo working tree
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_"),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture()
def drain_maintain_drain(spark, tmp_path):
    """``run(frame, write, state_root, files=4)``: stream ``frame``
    through the foreachBatch body ``write``, one file per trigger, in
    two drains with one ``maintain`` pass between them — the watermark
    read from the stream's commits log, vacuum with a grace margin of
    1 — while the query stays live. Returns the checkpoint dir."""
    import glob

    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import start_state_stream

    def run(frame, write, state_root, files=4):
        work = tmp_path / "stream"
        staged, src, ckpt = (str(work / d) for d in ("staged", "in", "ckpt"))
        frame.repartition(files).write.parquet(staged)
        parts = sorted(glob.glob(f"{staged}/part-*.parquet"))
        os.makedirs(src)

        def publish(paths):
            for p in paths:
                os.rename(p, os.path.join(src, os.path.basename(p)))

        publish(parts[: len(parts) // 2])
        stream = (
            spark.readStream.schema(frame.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = start_state_stream(stream, ckpt, write)
        try:
            q.processAllAvailable()
            run_maintenance(
                spark, state_root, checkpoint_dir=ckpt, vacuum=True, grace_batches=1
            )
            publish(parts[len(parts) // 2 :])
            q.processAllAvailable()
        finally:
            q.stop()
        return ckpt

    return run
