"""Context-length economics monitor (streaming/ctx_monitor.py): the
merged curve must equal the registered batch q_k99 EXACTLY (integer
sums commute across any batch slicing), overwrite-replay must absorb a
redelivered trigger, compaction must fold to one row per budget, and
the maintain pass must recognize the declared sum-ctx layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.registry import all_specs
from cdc_publisher_spark.streaming.ctx_monitor import (
    CTX_BUDGETS,
    ctx_micro_batch,
    read_ctx_curve,
)
from cdc_publisher_spark.streaming.state import compact_dir, vacuum_state
from cdc_publisher_spark.tables import load


@pytest.fixture()
def docs(spark, sf_smoke):
    return load(spark, sf_smoke, "documents").select("doc_id", "text", "source")


def _slices(docs, n):
    return [docs.filter(F.col("doc_id") % n == b) for b in range(n)]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_budget_lists_agree_with_batch_twin():
    from cdc_publisher_spark.queries.llm_prep import _CTX_BUDGETS

    assert tuple(CTX_BUDGETS) == tuple(_CTX_BUDGETS)


def test_merged_curve_equals_batch_q_k99_exactly(spark, docs, sf_smoke, tmp_path):
    state = str(tmp_path / "ctx")
    for b, s in enumerate(_slices(docs, 3)):
        ctx_micro_batch(s, b, state)
    got = _rows(read_ctx_curve(spark, state))
    want = _rows(all_specs()["q_k99_context_length_efficiency"].spark(spark, sf_smoke))
    assert got == want  # exact integer equality, not approximate


def test_overwrite_absorbs_replayed_trigger(spark, docs, tmp_path):
    state = str(tmp_path / "ctx")
    slices = _slices(docs, 2)
    for b, s in enumerate(slices):
        ctx_micro_batch(s, b, state)
    before = _rows(read_ctx_curve(spark, state))
    ctx_micro_batch(slices[0], 0, state)  # crash-replay of batch 0
    assert _rows(read_ctx_curve(spark, state)) == before


def test_compaction_folds_to_one_row_per_budget(spark, docs, tmp_path):
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    state = str(tmp_path / "ctx")
    for b, s in enumerate(_slices(docs, 4)):
        ctx_micro_batch(s, b, state)
    before = _rows(read_ctx_curve(spark, state))
    compact_dir(spark, state, 2)
    vacuum_state(spark, state)
    assert compacted_upto(spark, state) == 2
    assert [k for k, _ in batch_dirs(spark, state)] == [3]
    seg = spark.read.parquet(f"{state}/_compact/upto=2")
    assert seg.count() == len(CTX_BUDGETS)
    assert _rows(read_ctx_curve(spark, state)) == before


def test_stream_wiring_and_maintain_recognize_layout(
    spark, docs, sf_smoke, tmp_path, drain_maintain_drain
):
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.state import compacted_upto

    root = tmp_path / "root"
    state = str(root / "ctx")
    drain_maintain_drain(
        docs, lambda df, bid: ctx_micro_batch(df, bid, state), str(root)
    )
    assert compacted_upto(spark, state) is not None
    want = _rows(all_specs()["q_k99_context_length_efficiency"].spark(spark, sf_smoke))
    assert _rows(read_ctx_curve(spark, state)) == want
    plans = run_maintenance(spark, str(root), vacuum=True)
    assert [p.kind for p in plans] == ["sum"]
    assert _rows(read_ctx_curve(spark, state)) == want
