"""Streaming count-min heavy-hitters monitor (streaming/cm_monitor.py):
the stream's accumulated cells must equal the one-shot batch cells over
the same rows (stream == batch — and therefore q_k57's estimates), a
replayed batch must NOT double-count (the non-idempotent sum-merge is
the hard test of the batch-overwrite discipline in streaming/state.py),
compaction must pre-sum losslessly, and a group column gives windowed
per-group sketches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.operators.cm import (
    CM_DEPTH,
    CM_WIDTH,
    cm_cells,
    cm_point_estimates,
)
from cdc_publisher_spark.streaming.cm_monitor import (
    cm_micro_batch,
    cm_state_estimates,
    read_cm_cells,
)
from cdc_publisher_spark.streaming.state import compact_dir, start_state_stream
from cdc_publisher_spark.tables import load


@pytest.fixture()
def tokens(spark, sf_smoke):
    # one row per token instance, with the doc_id kept for batch splits
    return (
        load(spark, sf_smoke, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("g"))
    )


def _cells_sorted(df):
    return sorted((r.r, r.b, r.cnt) for r in df.collect())


def test_stream_equals_batch_cells(spark, tokens, tmp_path):
    state = str(tmp_path / "cm")
    for b in range(3):
        cm_micro_batch(tokens.filter(F.col("doc_id") % 3 == b), b, state)
    merged = read_cm_cells(spark, state)
    expected = cm_cells(tokens)
    assert _cells_sorted(merged) == _cells_sorted(expected)


def test_replay_does_not_double_count(spark, tokens, tmp_path):
    """sum-merge is NOT idempotent — this is the state layer's
    batch-overwrite discipline doing load-bearing work. A replayed
    batch rewrites its delta; an append would double every counter."""
    state = str(tmp_path / "cm")
    for b in range(2):
        cm_micro_batch(tokens.filter(F.col("doc_id") % 2 == b), b, state)
    before = _cells_sorted(read_cm_cells(spark, state))
    cm_micro_batch(tokens.filter(F.col("doc_id") % 2 == 1), 1, state)  # replay
    assert _cells_sorted(read_cm_cells(spark, state)) == before


def test_estimates_are_one_sided_and_exact_for_heavy_hitters(spark, tokens, tmp_path):
    state = str(tmp_path / "cm")
    for b in range(3):
        cm_micro_batch(tokens.filter(F.col("doc_id") % 3 == b), b, state)
    true_counts = tokens.groupBy("g").agg(F.count("*").alias("true_c"))
    top = true_counts.orderBy(F.col("true_c").desc(), F.col("g")).limit(20)
    est = cm_state_estimates(spark, state, top)
    rows = est.collect()
    assert len(rows) == 20
    assert all(r.cm_est >= r.true_c for r in rows)  # one-sided guarantee
    # matches the batch twin's estimates (q_k57 path) cell-for-cell
    batch_est = {
        (r.g, r.true_c): r.cm_est
        for r in cm_point_estimates(cm_cells(tokens), top).collect()
    }
    assert {(r.g, r.true_c): r.cm_est for r in rows} == batch_est


def test_compaction_presums_and_preserves_cells(spark, tokens, tmp_path):
    state = str(tmp_path / "cm")
    for b in range(3):
        cm_micro_batch(tokens.filter(F.col("doc_id") % 3 == b), b, state)
    before = _cells_sorted(read_cm_cells(spark, state))
    compact_dir(spark, state, 1)
    assert _cells_sorted(read_cm_cells(spark, state)) == before
    # the compact segment is PRE-SUMMED: ≤ d × w rows total
    seg = os.path.join(state, "_compact", "upto=1")
    assert spark.read.parquet(seg).count() <= CM_DEPTH * CM_WIDTH
    # idempotent re-compact at the same watermark is a no-op
    compact_dir(spark, state, 1)
    assert _cells_sorted(read_cm_cells(spark, state)) == before
    # replay of a pre-watermark batch is invisible to readers
    cm_micro_batch(tokens.filter(F.col("doc_id") % 3 == 0), 0, state)
    assert _cells_sorted(read_cm_cells(spark, state)) == before


def test_windowed_group_column_tracks_per_window_counts(spark, tmp_path):
    """Per-event-time-window sketches: heavy hitters per day, state
    O(days × d × w)."""
    rows = [("d1", "apple")] * 7 + [("d1", "pear")] * 2 + [("d2", "apple")] * 3 + [
        ("d2", "plum")
    ] * 5
    df = spark.createDataFrame(rows, "day string, g string")
    state = str(tmp_path / "cm")
    cm_micro_batch(df, 0, state, group_cols=["day"])
    probes = spark.createDataFrame(
        [("d1", "apple"), ("d1", "plum"), ("d2", "apple"), ("d2", "plum")],
        "day string, g string",
    )
    est = {
        (r.day, r.g): r.cm_est
        for r in cm_state_estimates(
            spark, state, probes, group_cols=["day"]
        ).collect()
    }
    # one-sided per window; d1's plum count is 0-or-collision, never d2's 5
    assert est[("d1", "apple")] >= 7
    assert est[("d2", "apple")] >= 3
    assert est[("d2", "plum")] >= 5
    assert est[("d1", "plum")] < 5 + 7  # bounded by d1's own mass
    # windows don't bleed: exact when the sketch is collision-free at
    # this tiny vocabulary
    assert est[("d1", "apple")] == 7 and est[("d2", "apple")] == 3


def test_stream_wiring_end_to_end(spark, tokens, tmp_path):
    src_dir = str(tmp_path / "in")
    tokens.select("g").write.parquet(src_dir)
    state = str(tmp_path / "cm")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("g string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = start_state_stream(
        stream, ckpt, lambda df, bid: cm_micro_batch(df, bid, state)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = read_cm_cells(spark, state)
    expected = cm_cells(tokens)
    assert _cells_sorted(merged) == _cells_sorted(expected)


def test_cli_maintain_compacts_cm(spark, tokens, tmp_path, capsys):
    """maintain over a count-min state dir (the `compact-cm` alias was
    removed, VERDICT r11 ask #3): cells pre-sum into the compact
    segment and the merged counts are unchanged."""
    from cdc_publisher_spark.__main__ import main

    state = str(tmp_path / "cm")
    for b in range(2):
        cm_micro_batch(tokens.filter(F.col("doc_id") % 2 == b), b, state)
    before = _cells_sorted(read_cm_cells(spark, state))
    assert main(["maintain", "--state-root", state, "--upto-batch", "1"]) == 0
    out = capsys.readouterr().out
    assert out.count("compact\tsum\t") == 1, out
    assert _cells_sorted(read_cm_cells(spark, state)) == before


def test_in_stream_compaction_keeps_cells(
    spark, tokens, tmp_path, drain_maintain_drain
):
    """``maintain`` pre-sums cell state between two drains of a live
    stream (watermark from its commits log): counts stay exact (no
    double-count across the compaction boundary) and the manifest
    advances."""
    from cdc_publisher_spark.streaming.state import compacted_upto

    state = str(tmp_path / "cm")
    drain_maintain_drain(
        tokens.select("g"), lambda df, bid: cm_micro_batch(df, bid, state), state
    )
    assert compacted_upto(spark, state) is not None
    merged = read_cm_cells(spark, state)
    expected = cm_cells(tokens)
    assert _cells_sorted(merged) == _cells_sorted(expected)
