"""Streaming rare-gram exposure monitor (streaming/exposure_monitor.py):
the report off accumulated state must equal q_k88 on the union of all
delivered documents column-for-column (stream == batch), a replayed
batch must NOT double document frequencies (sum-merge is not
idempotent — the state layer's overwrite discipline is load-bearing),
and ``maintain`` compaction — between triggers or after the stream —
must pre-sum losslessly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.queries.llm_risk import q_k88_rare_gram_exposure
from cdc_publisher_spark.streaming.exposure_monitor import (
    exposure_micro_batch,
    read_exposure_report,
    read_gram_counts,
)
from cdc_publisher_spark.streaming.maintenance import run_maintenance
from cdc_publisher_spark.streaming.state import compact_dir, vacuum_state
from cdc_publisher_spark.tables import load


@pytest.fixture()
def docs(spark, sf_smoke):
    return load(spark, sf_smoke, "documents").select("doc_id", "text", "source")


def _report_rows(df):
    return sorted(
        (r.source, r.n_grams, r.n_unique, r.n_rare, r.unique_frac)
        for r in df.collect()
    )


def test_stream_report_equals_batch_k88(spark, docs, sf_smoke, tmp_path):
    state = str(tmp_path / "exp")
    for b in range(3):
        exposure_micro_batch(docs.filter(F.col("doc_id") % 3 == b), b, state)
    got = read_exposure_report(spark, state)
    want = q_k88_rare_gram_exposure(spark, sf_smoke)
    assert _report_rows(got) == _report_rows(want)


def test_replay_does_not_inflate_document_frequency(spark, docs, tmp_path):
    """A redelivered batch overwrites its own delta; an append would
    push unique (df=1) grams into the rare tier and double n-counts."""
    state = str(tmp_path / "exp")
    for b in range(2):
        exposure_micro_batch(docs.filter(F.col("doc_id") % 2 == b), b, state)
    before = _report_rows(read_exposure_report(spark, state))
    exposure_micro_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, state)  # replay
    assert _report_rows(read_exposure_report(spark, state)) == before


def test_compaction_presums_losslessly(spark, docs, tmp_path):
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    state = str(tmp_path / "exp")
    for b in range(4):
        exposure_micro_batch(docs.filter(F.col("doc_id") % 4 == b), b, state)
    before_counts = sorted(
        (r.sh, r.source, r.cnt) for r in read_gram_counts(spark, state).collect()
    )
    before_report = _report_rows(read_exposure_report(spark, state))
    compact_dir(spark, state, 2)
    vacuum_state(spark, state)
    assert compacted_upto(spark, state) == 2
    # superseded per-batch dirs reclaimed; batch 3 still live
    assert [k for k, _ in batch_dirs(spark, state)] == [3]
    after_counts = sorted(
        (r.sh, r.source, r.cnt) for r in read_gram_counts(spark, state).collect()
    )
    assert after_counts == before_counts
    assert _report_rows(read_exposure_report(spark, state)) == before_report


def _in_stream_body(spark, state):
    """One trigger of the exposure stream followed, on every second
    trigger, by the ``maintain`` pass scheduled between triggers
    (committed watermark ``bid - 1``, vacuum), called directly so
    tests can interleave crashes/replays between triggers."""

    def body(df, bid):
        exposure_micro_batch(df, bid, state)
        if bid % 2 == 1:
            run_maintenance(spark, state, upto_batch=bid - 1, vacuum=True)

    return body


def test_multi_generation_compaction_keeps_read_cost_o_distinct_grams(
    spark, docs, sf_smoke, tmp_path
):
    """VERDICT r8 ask #5 (part 1): run well past the maintenance
    cadence so the segment is rewritten across MULTIPLE generations with vacuum, and
    pin that the read side stays O(distinct grams): exactly one
    compact segment survives, the segment holds ONE pre-summed row per
    (gram, source) — not one per (batch, gram) — and only the
    uncompacted tail batches remain as live dirs. The report off that
    bounded state still equals batch q_k88 on everything delivered."""
    import glob

    from cdc_publisher_spark.streaming.state import (
        batch_dirs,
        compacted_upto,
        read_state,
    )

    state = str(tmp_path / "exp")
    body = _in_stream_body(spark, state)
    n_batches = 8
    for b in range(n_batches):
        body(docs.filter(F.col("doc_id") % n_batches == b), b)
    # four generations fired (bids 1,3,5,7), each folding committed
    # batches only: watermarks 0, 2, 4, 6
    assert compacted_upto(spark, state) == 6
    # vacuum reclaimed every superseded generation and batch dir:
    # one segment, one live (still-uncompacted) batch dir
    assert glob.glob(f"{state}/_compact/upto=*") == [f"{state}/_compact/upto=6"]
    assert [k for k, _ in batch_dirs(spark, state)] == [7]
    # the segment is PRE-SUMMED: one row per (sh, source) — the
    # O(distinct grams) bound; an append-shaped compaction would keep
    # one row per (batch, gram) and grow with stream length
    seg = spark.read.parquet(f"{state}/_compact/upto=6")
    assert seg.count() == seg.select("sh", "source").distinct().count()
    # total read cost = segment + live tail, nothing else
    assert read_state(spark, state).count() == seg.count() + spark.read.parquet(
        f"{state}/batch=7"
    ).count()
    got = read_exposure_report(spark, state)
    want = q_k88_rare_gram_exposure(spark, sf_smoke)
    assert _report_rows(got) == _report_rows(want)


def test_replayed_batch_between_compaction_generations_counts_once(
    spark, docs, sf_smoke, tmp_path
):
    """VERDICT r8 ask #5 (part 2): sum-merge state is not idempotent,
    so replay safety must survive compaction generations. Two crash
    shapes: (a) a batch replayed BETWEEN two generations (its delta
    dir overwritten, later folded exactly once), and (b) the
    compacting trigger itself replayed AFTER its compaction ran but
    before the checkpoint commit (``maintain`` skips the
    already-covered target instead of double-folding). Both runs must
    equal a crash-free twin and batch q_k88."""
    from cdc_publisher_spark.streaming.state import compacted_upto

    state = str(tmp_path / "exp")
    twin = str(tmp_path / "twin")
    body = _in_stream_body(spark, state)
    tbody = _in_stream_body(spark, twin)
    parts = [docs.filter(F.col("doc_id") % 4 == b) for b in range(4)]
    for b in (0, 1, 2):
        body(parts[b], b)
        tbody(parts[b], b)
    # (a) crash after batch 2's commit-less trigger: replay it
    body(parts[2], 2)
    assert compacted_upto(spark, state) == 0  # only generation 1 so far
    # batch 3's trigger compacts to watermark 2 — folding the replayed
    # batch's single overwritten delta exactly once
    body(parts[3], 3)
    tbody(parts[3], 3)
    assert compacted_upto(spark, state) == 2
    # (b) crash between batch 3's compaction and its checkpoint
    # commit: the replayed trigger rewrites batch=3 and SKIPS the
    # already-covered watermark (no error, no double fold)
    body(parts[3], 3)
    assert compacted_upto(spark, state) == 2
    got = _report_rows(read_exposure_report(spark, state))
    assert got == _report_rows(read_exposure_report(spark, twin))
    assert got == _report_rows(q_k88_rare_gram_exposure(spark, sf_smoke))


def test_stream_wiring_end_to_end_with_in_stream_compaction(
    spark, docs, sf_smoke, tmp_path, drain_maintain_drain
):
    from cdc_publisher_spark.streaming.state import compacted_upto

    state = str(tmp_path / "exp")
    drain_maintain_drain(
        docs, lambda df, bid: exposure_micro_batch(df, bid, state), state
    )
    assert compacted_upto(spark, state) is not None
    got = read_exposure_report(spark, state)
    want = q_k88_rare_gram_exposure(spark, sf_smoke)
    assert _report_rows(got) == _report_rows(want)
