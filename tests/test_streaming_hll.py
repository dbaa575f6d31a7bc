"""Streaming HLL monitor (streaming/hll_monitor.py): the stream's
accumulated registers must equal the one-shot batch registers over
the same rows (stream == batch), replays and cross-batch duplicate
values must be absorbed, and compaction must pre-merge losslessly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.hll import (
    HLL_M,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from cdc_publisher_spark.streaming.hll_monitor import (
    hll_micro_batch,
    hll_state_estimate,
    read_hll_registers,
)
from cdc_publisher_spark.streaming.state import compact_dir, start_state_stream
from cdc_publisher_spark.tables import load


@pytest.fixture()
def rows(spark, sf_smoke):
    # (source, s) value rows: the dedup keys a monitor would watch
    return (
        load(spark, sf_smoke, "documents")
        .select("source", F.md5("text").alias("s"), "doc_id")
    )


def _regs_sorted(df):
    return sorted((r.source, r.bucket, r.M) for r in df.collect())


def test_stream_equals_batch_registers(spark, rows, tmp_path):
    state = str(tmp_path / "hll")
    for b in range(3):
        hll_micro_batch(rows.filter(F.col("doc_id") % 3 == b), b, state)
    merged = read_hll_registers(spark, state)
    expected = hll_registers(rows, ["source"])
    assert _regs_sorted(merged) == _regs_sorted(expected)
    # and the estimates built on them agree too
    est_stream = {
        r.source: r.hll_estimate for r in hll_state_estimate(spark, state).collect()
    }
    est_batch = {
        r.source: r.hll_estimate
        for r in hll_estimate(expected, ["source"]).collect()
    }
    assert est_stream == est_batch


def test_replay_and_cross_batch_duplicates_are_absorbed(spark, rows, tmp_path):
    state = str(tmp_path / "hll")
    for b in range(2):
        hll_micro_batch(rows.filter(F.col("doc_id") % 2 == b), b, state)
    before = _regs_sorted(read_hll_registers(spark, state))
    # replay batch 1 (overwrite path)
    hll_micro_batch(rows.filter(F.col("doc_id") % 2 == 1), 1, state)
    assert _regs_sorted(read_hll_registers(spark, state)) == before
    # the same VALUES re-delivered under a NEW batch id — the case the
    # dedup stream needs an opt-in guard for — is a no-op here: max()
    # is idempotent, so no cross-batch uniqueness contract exists
    hll_micro_batch(rows.filter(F.col("doc_id") % 2 == 0), 7, state)
    assert _regs_sorted(read_hll_registers(spark, state)) == before


def test_compaction_premerges_and_preserves_registers(spark, rows, tmp_path):
    state = str(tmp_path / "hll")
    for b in range(3):
        hll_micro_batch(rows.filter(F.col("doc_id") % 3 == b), b, state)
    before = _regs_sorted(read_hll_registers(spark, state))
    compact_dir(spark, state, 1)
    assert _regs_sorted(read_hll_registers(spark, state)) == before
    # the compact segment is PRE-MERGED: <= groups x 256 rows total
    import os

    seg = os.path.join(state, "_compact", "upto=1")
    n_sources = rows.select("source").distinct().count()
    assert spark.read.parquet(seg).count() <= n_sources * HLL_M
    # idempotent re-compact at the same watermark is a no-op
    compact_dir(spark, state, 1)
    assert _regs_sorted(read_hll_registers(spark, state)) == before


def test_estimate_tracks_exact_distinct(spark, rows, tmp_path):
    state = str(tmp_path / "hll")
    hll_micro_batch(rows, 0, state)
    est = {r.source: r.hll_estimate for r in hll_state_estimate(spark, state).collect()}
    exact = {
        r.source: r.n
        for r in rows.select("source", "s")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for src, n in exact.items():
        assert abs(est[src] - n) / n <= 0.2, (src, est[src], n)


def test_stream_wiring_end_to_end(spark, rows, tmp_path):
    src_dir = str(tmp_path / "in")
    rows.select("source", "s").write.parquet(src_dir)
    state = str(tmp_path / "hll")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("source string, s string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = start_state_stream(
        stream, ckpt, lambda df, bid: hll_micro_batch(df, bid, state)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = read_hll_registers(spark, state)
    expected = hll_registers(rows, ["source"])
    assert _regs_sorted(merged) == _regs_sorted(expected)


def test_in_stream_compaction_keeps_registers(
    spark, rows, tmp_path, drain_maintain_drain
):
    """``maintain`` pre-merges register state between two drains of a
    live stream (watermark from its commits log); the merged view is
    unchanged and the manifest advances."""
    from cdc_publisher_spark.streaming.state import compacted_upto

    state = str(tmp_path / "hll")
    drain_maintain_drain(
        rows.select("source", "s"),
        lambda df, bid: hll_micro_batch(df, bid, state),
        state,
    )
    assert compacted_upto(spark, state) is not None
    merged = read_hll_registers(spark, state)
    expected = hll_registers(rows, ["source"])
    assert _regs_sorted(merged) == _regs_sorted(expected)
