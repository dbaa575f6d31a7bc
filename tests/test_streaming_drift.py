"""Streaming centroid-drift monitor (streaming/drift_monitor.py): the
report off accumulated DECIMAL partial sums must equal q_k89 on the
union of all delivered vectors column-for-column AND bit-for-bit (the
partials are exact, so stream==batch is an equality, not a tolerance),
replay must not double-count (sum-merge is not idempotent), compaction
must pre-sum losslessly, and the maintain pass must recognize the
layout by schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.queries.llm_risk import q_k89_label_centroid_drift
from cdc_publisher_spark.streaming.drift_monitor import (
    drift_micro_batch,
    read_centroid_sums,
    read_drift_report,
)
from cdc_publisher_spark.streaming.state import compact_dir, vacuum_state
from cdc_publisher_spark.tables import load


@pytest.fixture()
def vecs(spark, sf_smoke):
    return load(spark, sf_smoke, "embeddings").select("vec_id", "label", "embedding")


def _rows(df):
    return sorted(
        (r.label, r.n_vecs, r.drift_cos, r.centroid_l2) for r in df.collect()
    )


def test_stream_report_equals_batch_k89_exactly(spark, vecs, sf_smoke, tmp_path):
    state = str(tmp_path / "drift")
    for b in range(3):
        drift_micro_batch(vecs.filter(F.col("vec_id") % 3 == b), b, state)
    got = read_drift_report(spark, state)
    want = q_k89_label_centroid_drift(spark, sf_smoke)
    assert _rows(got) == _rows(want)


def test_replay_does_not_inflate_partials(spark, vecs, tmp_path):
    state = str(tmp_path / "drift")
    for b in range(2):
        drift_micro_batch(vecs.filter(F.col("vec_id") % 2 == b), b, state)
    before = _rows(read_drift_report(spark, state))
    drift_micro_batch(vecs.filter(F.col("vec_id") % 2 == 1), 1, state)  # replay
    assert _rows(read_drift_report(spark, state)) == before


def test_compaction_presums_losslessly_and_stays_dimension_sized(
    spark, vecs, tmp_path
):
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    state = str(tmp_path / "drift")
    for b in range(4):
        drift_micro_batch(vecs.filter(F.col("vec_id") % 4 == b), b, state)
    before_sums = sorted(
        (r.label, r.p, str(r.s), r.n)
        for r in read_centroid_sums(spark, state).collect()
    )
    before_report = _rows(read_drift_report(spark, state))
    compact_dir(spark, state, 2)
    vacuum_state(spark, state)
    assert compacted_upto(spark, state) == 2
    assert [k for k, _ in batch_dirs(spark, state)] == [3]
    # the folded segment is ONE row per (label, p): labels x 64
    seg = spark.read.parquet(f"{state}/_compact/upto=2")
    assert seg.count() == seg.select("label", "p").distinct().count()
    after_sums = sorted(
        (r.label, r.p, str(r.s), r.n)
        for r in read_centroid_sums(spark, state).collect()
    )
    assert after_sums == before_sums
    assert _rows(read_drift_report(spark, state)) == before_report


def test_stream_wiring_end_to_end_with_in_stream_compaction(
    spark, vecs, sf_smoke, tmp_path, drain_maintain_drain
):
    from cdc_publisher_spark.streaming.state import compacted_upto

    state = str(tmp_path / "drift")
    drain_maintain_drain(
        vecs, lambda df, bid: drift_micro_batch(df, bid, state), state
    )
    assert compacted_upto(spark, state) is not None
    got = read_drift_report(spark, state)
    want = q_k89_label_centroid_drift(spark, sf_smoke)
    assert _rows(got) == _rows(want)


def test_maintain_recognizes_drift_layout(spark, vecs, tmp_path):
    """The unified maintain pass classifies (label, p, s, n) as
    DECIMAL sum-merge: the folded segment pre-sums to one row per
    (label, p) and the report is unchanged."""
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import compacted_upto

    root = tmp_path / "root"
    state = str(root / "drift")
    for b in range(3):
        drift_micro_batch(vecs.filter(F.col("vec_id") % 3 == b), b, state)
    before = _rows(read_drift_report(spark, state))
    # writer stopped cleanly -> every on-disk batch is committed, so
    # folding the newest one is safe and must be requested explicitly
    plans = run_maintenance(spark, str(root), assume_all_committed=True, vacuum=True)
    assert [(p.kind, p.action) for p in plans] == [("sum", "compact")]
    assert compacted_upto(spark, state) == 2
    seg = spark.read.parquet(f"{state}/_compact/upto=2")
    assert seg.count() == seg.select("label", "p").distinct().count()
    assert _rows(read_drift_report(spark, state)) == before
