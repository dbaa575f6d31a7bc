"""The state-layer consumer contract, enforced uniformly.

Every monitor riding streaming/state.py makes the same promises,
whatever its merge algebra (max — HLL; sum — count-min, exposure;
DECIMAL-sum — centroid drift; min — vocabulary; column-wise sum —
context-length economics):

1. ``maintain`` folding the committed batches every K triggers
   leaves reads IDENTICAL to an uncompacted twin run;
2. after multiple compaction generations WITH vacuum, on-disk state is
   exactly one pre-merged segment (one row per state key) plus the
   uncompacted live tail;
3. a batch replayed BETWEEN two generations (crash before its
   checkpoint commit) changes nothing — the overwrite discipline plus
   the committed-only watermark absorb it;
4. the compacting trigger itself replayed AFTER its compaction ran
   skips the already-covered watermark idempotently (no error, no
   double fold, watermark unchanged).

The exposure monitor got these adversarial pins in round 9 (VERDICT r8
ask #5, tests/test_streaming_exposure.py); this file extends the same
contract to ALL monitors through one parametrized harness, so a new
consumer gets the full battery by adding an adapter row (the round-10
ctx monitor did exactly that). The
non-idempotent merges (sum, DECIMAL-sum) are the ones these crash
shapes can corrupt; the idempotent ones (max, min) pin that the shared
machinery stays lossless for them too.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.streaming.maintenance import run_maintenance
from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto
from cdc_publisher_spark.tables import load


class Adapter:
    """One monitor's bindings for the shared contract harness."""

    name: str
    key_cols: tuple[str, ...]  # state key — one segment row per value

    def batches(self, spark, sf_smoke, n):  # n input slices
        raise NotImplementedError

    def write(self, df, bid, state):  # the micro-batch body's write
        raise NotImplementedError

    def read_rows(self, spark, state):  # canonical merged view
        raise NotImplementedError


class HllAdapter(Adapter):
    name, key_cols = "hll", ("source", "bucket")

    def batches(self, spark, sf_smoke, n):
        vals = (
            load(spark, sf_smoke, "documents")
            .select("source", F.explode(F.split("text", " ")).alias("s"))
        )
        return [vals.filter(F.crc32("s") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.hll_monitor import hll_micro_batch

        hll_micro_batch(df, bid, state)

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.hll_monitor import read_hll_registers

        return sorted(
            (r.source, r.bucket, r.M)
            for r in read_hll_registers(spark, state).collect()
        )



class CmAdapter(Adapter):
    name, key_cols = "cm", ("source", "r", "b")

    def batches(self, spark, sf_smoke, n):
        vals = (
            load(spark, sf_smoke, "documents")
            .select("source", F.explode(F.split("text", " ")).alias("g"))
        )
        return [vals.filter(F.crc32("g") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.cm_monitor import cm_micro_batch

        cm_micro_batch(df, bid, state, value_col="g", group_cols=["source"])

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.cm_monitor import read_cm_cells

        return sorted(
            map(tuple, read_cm_cells(spark, state, ["source"]).collect())
        )



class ExposureAdapter(Adapter):
    name, key_cols = "exposure", ("sh", "source")

    def batches(self, spark, sf_smoke, n):
        docs = load(spark, sf_smoke, "documents").select("doc_id", "text", "source")
        return [docs.filter(F.col("doc_id") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.exposure_monitor import (
            exposure_micro_batch,
        )

        exposure_micro_batch(df, bid, state)

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.exposure_monitor import read_gram_counts

        return sorted(
            (r.sh, r.source, r.cnt)
            for r in read_gram_counts(spark, state).collect()
        )



class DriftAdapter(Adapter):
    name, key_cols = "drift", ("label", "p")

    def batches(self, spark, sf_smoke, n):
        vecs = load(spark, sf_smoke, "embeddings")
        return [vecs.filter(F.col("vec_id") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.drift_monitor import drift_micro_batch

        drift_micro_batch(df, bid, state)

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.drift_monitor import read_centroid_sums

        return sorted(
            (r.label, r.p, str(r.s), r.n)
            for r in read_centroid_sums(spark, state).collect()
        )



class VocabAdapter(Adapter):
    name, key_cols = "vocab", ("source", "wh")

    def batches(self, spark, sf_smoke, n):
        docs = load(spark, sf_smoke, "documents").select("doc_id", "text", "source")
        return [docs.filter(F.col("doc_id") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.vocab_monitor import vocab_micro_batch

        vocab_micro_batch(df, bid, state)

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.vocab_monitor import read_first_seen

        return sorted(
            (r.source, r.wh, r.fb)
            for r in read_first_seen(spark, state).collect()
        )



class CtxAdapter(Adapter):
    name, key_cols = "ctx", ("budget",)

    def batches(self, spark, sf_smoke, n):
        docs = load(spark, sf_smoke, "documents").select("doc_id", "text", "source")
        return [docs.filter(F.col("doc_id") % n == b) for b in range(n)]

    def write(self, df, bid, state):
        from cdc_publisher_spark.streaming.ctx_monitor import ctx_micro_batch

        ctx_micro_batch(df, bid, state)

    def read_rows(self, spark, state):
        from cdc_publisher_spark.streaming.ctx_monitor import read_ctx_curve

        return sorted(map(tuple, read_ctx_curve(spark, state).collect()))



ADAPTERS = [
    HllAdapter(),
    CmAdapter(),
    ExposureAdapter(),
    DriftAdapter(),
    VocabAdapter(),
    CtxAdapter(),
]


def _body(spark, ad, state):
    """One trigger of a monitor's stream followed, on every second
    trigger, by the ``maintain`` pass a deployment schedules between
    triggers: fold the committed batches (watermark ``bid - 1`` — the
    current trigger has not committed yet) and vacuum."""

    def body(df, bid):
        ad.write(df, bid, state)
        if bid % 2 == 1:
            run_maintenance(spark, state, upto_batch=bid - 1, vacuum=True)

    return body


@pytest.mark.parametrize("ad", ADAPTERS, ids=lambda a: a.name)
def test_state_consumer_contract(spark, sf_smoke, tmp_path, ad):
    n = 6
    slices = ad.batches(spark, sf_smoke, n)
    plain = str(tmp_path / "plain")
    auto = str(tmp_path / "auto")
    body = _body(spark, ad, auto)

    for b, s in enumerate(slices[:3]):
        ad.write(s, b, plain)
        body(s, b)

    # (3) replay batch 2 between generation 1 (watermark 0, fired at
    # bid 1) and generation 2 (watermark 2, fires at bid 3)
    assert compacted_upto(spark, auto) == 0
    body(slices[2], 2)

    for b in (3, 4, 5):
        ad.write(slices[b], b, plain)
        body(slices[b], b)
    # generations fired at bids 1, 3, 5 → watermarks 0, 2, 4
    assert compacted_upto(spark, auto) == 4

    # (4) the compacting trigger (bid 5) replayed after its compaction:
    # idempotent skip, watermark unchanged
    body(slices[5], 5)
    assert compacted_upto(spark, auto) == 4

    # (1) reads identical to the uncompacted twin despite both crash
    # shapes and three compaction generations
    assert ad.read_rows(spark, auto) == ad.read_rows(spark, plain)

    # (2) bounded on-disk state: one surviving segment, pre-merged to
    # one row per state key, plus only the uncompacted tail
    assert glob.glob(f"{auto}/_compact/upto=*") == [f"{auto}/_compact/upto=4"]
    assert [k for k, _ in batch_dirs(spark, auto)] == [5]
    seg = spark.read.parquet(f"{auto}/_compact/upto=4")
    assert seg.count() == seg.select(*ad.key_cols).distinct().count()
