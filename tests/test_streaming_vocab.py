"""First-seen vocabulary monitor (streaming/vocab_monitor.py): the
growth curve off merged state must agree with a direct recomputation
over the union of all delivered documents, min-merge must be
replay-proof, compaction must fold to one row per word type, and the
maintain pass must recognize the layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.functions.text import words
from cdc_publisher_spark.streaming.vocab_monitor import (
    read_first_seen,
    read_vocab_report,
    vocab_micro_batch,
)
from cdc_publisher_spark.streaming.state import compact_dir, vacuum_state
from cdc_publisher_spark.tables import load


@pytest.fixture()
def docs(spark, sf_smoke):
    return load(spark, sf_smoke, "documents").select("doc_id", "text", "source")


def _slices(docs, n):
    return [docs.filter(F.col("doc_id") % n == b) for b in range(n)]


def _report_rows(df):
    return sorted(
        (r.source, r.batch, r.new_words, r.vocab_cum) for r in df.collect()
    )


def _expected_curve(spark, slices):
    """Direct recomputation: first batch containing each (source, word),
    counted per batch with a running total."""
    parts = [
        s.select(
            "source", F.explode(words(F.col("text"))).alias("w")
        ).distinct().withColumn("b", F.lit(i))
        for i, s in enumerate(slices)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    first = u.groupBy("source", "w").agg(F.min("b").alias("batch"))
    curve = first.groupBy("source", "batch").agg(
        F.count("*").cast("long").alias("new_words")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("batch")
    return curve.select(
        "source", "batch", "new_words",
        F.sum("new_words").over(w).cast("long").alias("vocab_cum"),
    )


def test_stream_curve_equals_direct_recomputation(spark, docs, tmp_path):
    state = str(tmp_path / "vocab")
    slices = _slices(docs, 3)
    for b, s in enumerate(slices):
        vocab_micro_batch(s, b, state)
    got = _report_rows(read_vocab_report(spark, state))
    want = _report_rows(_expected_curve(spark, slices))
    assert got == want
    # per source, the final cumulative equals the source's direct
    # distinct-word count — the Heaps V the k90 batch query fits
    totals = {
        r.source: r.vocab_cum
        for r in read_vocab_report(spark, state).collect()
        if True
    }
    direct = {
        r.source: r.v
        for r in docs.select(
            "source", F.explode(words(F.col("text"))).alias("w")
        )
        .groupBy("source")
        .agg(F.count_distinct("w").alias("v"))
        .collect()
    }
    assert totals == direct  # dict keeps the LAST (max batch) per source


def test_replay_cannot_move_first_seen(spark, docs, tmp_path):
    """min-merge is idempotent AND the overwrite discipline holds: a
    redelivered batch — even one replayed after a later batch already
    claimed some of its words — changes nothing."""
    state = str(tmp_path / "vocab")
    slices = _slices(docs, 2)
    for b, s in enumerate(slices):
        vocab_micro_batch(s, b, state)
    before = _report_rows(read_vocab_report(spark, state))
    vocab_micro_batch(slices[0], 0, state)  # replay the FIRST batch last
    assert _report_rows(read_vocab_report(spark, state)) == before


def test_compaction_folds_to_one_row_per_type(spark, docs, tmp_path):
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    state = str(tmp_path / "vocab")
    slices = _slices(docs, 4)
    for b, s in enumerate(slices):
        vocab_micro_batch(s, b, state)
    before = _report_rows(read_vocab_report(spark, state))
    n_types = read_first_seen(spark, state).count()
    compact_dir(spark, state, 2)
    vacuum_state(spark, state)
    assert compacted_upto(spark, state) == 2
    assert [k for k, _ in batch_dirs(spark, state)] == [3]
    seg = spark.read.parquet(f"{state}/_compact/upto=2")
    assert seg.count() == seg.select("source", "wh").distinct().count()
    assert read_first_seen(spark, state).count() == n_types
    assert _report_rows(read_vocab_report(spark, state)) == before


def test_stream_wiring_and_maintain_recognize_layout(
    spark, docs, tmp_path, drain_maintain_drain
):
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import compacted_upto

    root = tmp_path / "root"
    state = str(root / "vocab")
    drain_maintain_drain(
        docs, lambda df, bid: vocab_micro_batch(df, bid, state), str(root)
    )
    assert compacted_upto(spark, state) is not None
    before = _report_rows(read_vocab_report(spark, state))
    plans = run_maintenance(spark, str(root), vacuum=True)
    assert [p.kind for p in plans] == ["min"]
    assert _report_rows(read_vocab_report(spark, state)) == before
