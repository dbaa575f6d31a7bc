"""The composed eight-monitor job + maintenance against a LIVE stream.

VERDICT r9 ask #2: the per-consumer contract harness drives each
monitor alone; a real deployment runs all eight off ONE stream with
maintenance scheduled alongside. This test feeds one document+embedding
stream through streaming/monitor_suite.py, runs ``maintain
--state-root --checkpoint <stream ckpt>`` MID-stream (between triggers,
watermark from the commits log, vacuum with a grace margin — exactly
state.vacuum_state's concurrency contract), finishes the stream, runs
the CLI maintenance once more, and asserts every monitor's merged view
equals its batch twin computed from the full corpus in one shot.

Every comparator is batch-slicing-INDEPENDENT (max/sum/bit_or/DECIMAL-
sum merges, the vocab type set, the dedup pair set), so the test pins
semantics without depending on file-trigger order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_publisher_spark.__main__ import main
from cdc_publisher_spark.functions.text import words
from cdc_publisher_spark.operators.cm import cm_cells
from cdc_publisher_spark.operators.hll import hll_registers
from cdc_publisher_spark.streaming.cm_monitor import read_cm_cells
from cdc_publisher_spark.streaming.ctx_monitor import ctx_economics, read_ctx_curve
from cdc_publisher_spark.streaming.drift_monitor import (
    centroid_deltas,
    read_centroid_sums,
)
from cdc_publisher_spark.streaming.exposure_monitor import (
    gram_deltas,
    read_gram_counts,
)
from cdc_publisher_spark.streaming.hll_monitor import read_hll_registers
from cdc_publisher_spark.streaming.incremental_dedup import (
    dedup_micro_batch,
    read_dedup_state,
)
from cdc_publisher_spark.streaming.maintenance import run_maintenance
from cdc_publisher_spark.streaming.monitor_suite import (
    stream_monitor_suite,
    suite_dir,
)
from cdc_publisher_spark.streaming.state import (
    checkpoint_committed_upto,
    compacted_upto,
)
from cdc_publisher_spark.streaming.vocab_monitor import read_first_seen
from cdc_publisher_spark.tables import load


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _word_rows(docs):
    return docs.select("source", F.explode(words(F.col("text"))).alias("w"))


def test_suite_stream_with_live_maintenance_equals_batch(
    spark, sf_smoke, tmp_path
):
    docs = (
        load(spark, sf_smoke, "documents")
        .join(
            load(spark, sf_smoke, "embeddings"),
            F.col("doc_id") == F.col("vec_id"),
        )
        # half the smoke corpus keeps the four triggers meaningful
        # (every monitor sees multiple sources and near-dup pairs)
        # while halving the dedup probes that dominate the runtime
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text", "source", "label", "embedding")
    )
    src = str(tmp_path / "in")
    docs.withColumn("part", F.pmod("doc_id", F.lit(4)).cast("int")).repartition(
        "part"
    ).write.partitionBy("part").parquet(src)

    root, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(f"{src}/part=*")
    )
    q = stream_monitor_suite(stream, root, ckpt)
    try:
        q.processAllAvailable()
        committed = checkpoint_committed_upto(spark, ckpt)
        assert committed is not None and committed >= 1
        # MID-stream maintenance: the query is still active; between
        # triggers, with the watermark from the stream's own commits
        # log and a vacuum grace margin for any in-flight reader —
        # the state.vacuum_state concurrency contract verbatim
        plans = run_maintenance(
            spark, root, checkpoint_dir=ckpt, vacuum=True, grace_batches=1
        )
        # dedup trio + hll/cm/exposure/drift/vocab/ctx + audio fpk/pairs
        # + embed idx/vecs/pairs
        assert len(plans) == 14
        assert all(p.kind != "unrecognized" for p in plans), [
            (p.path, p.kind) for p in plans
        ]
        for name in ("dedup_corpus", "hll", "cm", "exposure", "drift",
                     "vocab", "ctx", "audio_fpk", "embed_idx"):
            assert compacted_upto(spark, suite_dir(root, name)) == committed, name
        # the stream keeps running across the maintenance pass
        extra = docs.limit(40).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
        extra.coalesce(1).write.mode("append").parquet(f"{src}/part=9")
        q.processAllAvailable()
    finally:
        q.stop()

    # post-run CLI maintenance (the scheduled job): same watermark
    # source, idempotent, and every layout recognized by its marker
    assert (
        main(
            [
                "maintain",
                "--state-root",
                root,
                "--checkpoint",
                ckpt,
                "--vacuum",
            ]
        )
        == 0
    )

    full = docs.unionByName(extra)
    full_words = _word_rows(full)

    # HLL: max-merge is slicing-invariant — registers equal one-shot
    got = read_hll_registers(spark, suite_dir(root, "hll"), "source")
    want = hll_registers(full_words, ["source"], "w")
    assert _rows(got) == _rows(want)

    # CM: counter sums equal the one-shot cells
    got = read_cm_cells(spark, suite_dir(root, "cm"), ["source"])
    want = cm_cells(full_words, "w", ["source"])
    assert _rows(got) == _rows(want)

    # exposure: gram document-frequency sums equal the one-shot deltas
    got = read_gram_counts(spark, suite_dir(root, "exposure"))
    want = gram_deltas(full)
    assert _rows(got) == _rows(want)

    # drift: DECIMAL partial sums are order-independent — exact equality
    got = read_centroid_sums(spark, suite_dir(root, "drift"))
    want = centroid_deltas(full)
    assert _rows(got) == _rows(want)

    # vocabulary: the TYPE set per source is slicing-invariant (the
    # first-seen batch ids aren't — they depend on trigger order)
    got = read_first_seen(spark, suite_dir(root, "vocab")).select("source", "wh")
    want = full.select(
        "source", F.explode(words(F.col("text"))).alias("w")
    ).select("source", F.xxhash64("w").alias("wh")).distinct()
    assert _rows(got) == _rows(want)

    # ctx: per-budget partial sums are slicing-invariant — the merged
    # curve equals the one-shot economics exactly
    got = read_ctx_curve(spark, suite_dir(root, "ctx"))
    want = ctx_economics(full)
    assert _rows(got) == _rows(want)

    # dedup: the accumulated pair set equals the whole corpus processed
    # as ONE batch (cross-batch probing finds pairs wherever the two
    # docs landed), and the corpus ids are exactly the input ids
    twin = str(tmp_path / "twin")
    dedup_micro_batch(
        full, 0, f"{twin}/corpus", f"{twin}/idx", f"{twin}/pairs"
    )
    got = read_dedup_state(spark, suite_dir(root, "dedup_pairs")).select(
        "d1", "d2", "jaccard"
    )
    want = read_dedup_state(spark, f"{twin}/pairs").select("d1", "d2", "jaccard")
    assert _rows(got) == _rows(want)
    got_ids = read_dedup_state(spark, suite_dir(root, "dedup_corpus")).select(
        "doc_id"
    )
    assert _rows(got_ids) == _rows(full.select("doc_id"))

    # audio guard: the accumulated exact-dup detections over any
    # slicing equal the batch-mode same-fpk pair set (here: the exact
    # text-dup pairs, since the synth is deterministic per text), and
    # the fpk state holds exactly one row per input clip
    from cdc_publisher_spark.streaming.audio_monitor import (
        read_audio_dups,
        read_audio_fpk_state,
    )

    fpk_state = read_audio_fpk_state(spark, suite_dir(root, "audio_fpk"))
    assert _rows(fpk_state.select("media_id")) == _rows(full.select("doc_id"))
    got = read_audio_dups(spark, suite_dir(root, "audio_pairs"))
    want = (
        full.select(F.md5("text").alias("tk"), "doc_id")
        .groupBy("tk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), b -> "
                    "struct(a as orig_id, b as dup_id))))"
                )
            ).alias("p")
        )
        .select("p.orig_id", "p.dup_id")
    )
    assert _rows(got) == _rows(want)

    # embedding near-dup (ninth consumer): the accumulated detections
    # over any slicing equal the banded-nominate + exact-verify batch
    # twin at the suite's threshold, and the vector store holds
    # exactly one row per input id
    from cdc_publisher_spark.operators.embed_lsh import embedding_neardup_banded
    from cdc_publisher_spark.streaming.embed_monitor import (
        read_embed_pairs,
        read_embed_vec_state,
    )

    vec_state = read_embed_vec_state(spark, suite_dir(root, "embed_vecs"))
    assert _rows(vec_state.select("doc_id")) == _rows(full.select("doc_id"))
    got = read_embed_pairs(spark, suite_dir(root, "embed_pairs"))
    want = embedding_neardup_banded(
        full.select(F.col("doc_id").alias("vec_id"), "embedding"), 0.42
    ).select("i", "j", "cosine")
    assert _rows(got) == _rows(want)
    assert got.count() > 0  # non-vacuous at the audit threshold


def test_suite_consumer_failure_fails_the_trigger(spark, tmp_path, monkeypatch):
    """Commit-on-success under the concurrent fan-out: an exception in
    ANY consumer must propagate out of monitor_suite_batch (so the
    stream never commits the trigger's offsets), in both the pooled
    and the sequential submission modes — and the concurrent pool must
    surface the ORIGINAL error, not swallow it into a pool shutdown."""
    import pytest

    from cdc_publisher_spark.streaming import monitor_suite as ms

    def boom(*a, **k):
        raise RuntimeError("exposure consumer blew up")

    monkeypatch.setattr(ms, "exposure_micro_batch", boom)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma", "s0"), (2, "delta eps zeta", "s1")],
        "doc_id long, text string, source string",
    )
    for parallelism in (None, 1):
        root = str(tmp_path / f"state_{parallelism}")
        with pytest.raises(RuntimeError, match="exposure consumer blew up"):
            ms.monitor_suite_batch(batch, 0, root, parallelism=parallelism)


def test_suite_embed_consumer_at_production_threshold(spark, tmp_path):
    """r12 VERDICT ask #6: the suite elsewhere drives the embedding
    consumer at the fixture AUDIT threshold (0.42 — the synthetic
    corpus's near-dup tail); production runs at 0.9
    (embed_monitor.EMBED_DUP_THRESHOLD's default regime). This drives
    the full nine-consumer streaming path at threshold 0.9 over a
    corpus with PLANTED true near-dups — three families of base +
    tiny-noise copies (cosine ≈ 0.999) among 18 mutually-far random
    bases — and pins (a) stream == batch twin at 0.9 and (b) the
    detected pair set is EXACTLY the planted families' intra-family
    pairs, nothing else."""
    import numpy as np

    from cdc_publisher_spark.operators.embed_lsh import embedding_neardup_banded
    from cdc_publisher_spark.streaming.embed_monitor import (
        read_embed_pairs,
        read_embed_vec_state,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((18, 64))
    rows = [(i + 1, base[i].tolist()) for i in range(18)]
    families = [(0, 19), (0, 20), (1, 21), (1, 22), (2, 23), (2, 24)]
    for src, nid in families:
        noise = rng.standard_normal(64) * 0.03
        rows.append((nid, (base[src] + noise).tolist()))
    planted = {  # every intra-family (min, max) pair — and ONLY these
        (1, 19), (1, 20), (19, 20),
        (2, 21), (2, 22), (21, 22),
        (3, 23), (3, 24), (23, 24),
    }
    docs = spark.createDataFrame(
        [
            (vid, f"planted corpus doc {vid} alpha beta", f"s{vid % 3}",
             f"l{vid % 2}", vec)
            for vid, vec in rows
        ],
        "doc_id long, text string, source string, label string, "
        "embedding array<double>",
    )
    src_dir = str(tmp_path / "in")
    docs.withColumn("part", F.pmod("doc_id", F.lit(3)).cast("int")).repartition(
        "part"
    ).write.partitionBy("part").parquet(src_dir)

    root, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/part=*")
    )
    q = stream_monitor_suite(stream, root, ckpt, embed_threshold=0.9)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_embed_pairs(spark, suite_dir(root, "embed_pairs"))
    want = embedding_neardup_banded(
        docs.select(F.col("doc_id").alias("vec_id"), "embedding"), 0.9
    ).select("i", "j", "cosine")
    assert _rows(got) == _rows(want)  # stream == batch at 0.9
    got_pairs = {(r.i, r.j) for r in got.collect()}
    assert got_pairs == planted, got_pairs  # the planted pairs, ONLY
    assert all(r.cosine >= 0.9 for r in got.collect())
    vec_state = read_embed_vec_state(spark, suite_dir(root, "embed_vecs"))
    assert _rows(vec_state.select("doc_id")) == _rows(docs.select("doc_id"))


def test_suite_workers_inherit_local_properties(spark, tmp_path, monkeypatch):
    """r12 ADVICE #1 pin: with PYSPARK_PIN_THREAD (default), pool
    worker threads map to fresh JVM threads that would NOT see the
    streaming query's job group / local properties — the fan-out
    clones the parent thread's properties into each worker, so
    query.stop() can cancel in-flight consumer jobs and Spark-UI
    attribution holds. Asserted directly: a local property set on the
    calling thread is visible inside every pooled consumer thunk."""
    from cdc_publisher_spark.streaming import monitor_suite as ms

    seen = {}

    def recorder(name):
        def f(*a, **k):
            seen[name] = spark.sparkContext.getLocalProperty("cdc.test.prop")
        return f

    consumers = (
        "dedup_micro_batch", "audio_dup_micro_batch", "hll_micro_batch",
        "cm_micro_batch", "exposure_micro_batch", "vocab_micro_batch",
        "ctx_micro_batch",
    )
    for fn in consumers:
        monkeypatch.setattr(ms, fn, recorder(fn))
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma", "s0"), (2, "delta eps zeta", "s1")],
        "doc_id long, text string, source string",
    )
    spark.sparkContext.setLocalProperty("cdc.test.prop", "r13-suite")
    try:
        ms.monitor_suite_batch(batch, 0, str(tmp_path / "state"))
    finally:
        spark.sparkContext.setLocalProperty("cdc.test.prop", None)
    assert set(seen) == set(consumers)
    assert set(seen.values()) == {"r13-suite"}, seen


def test_suite_workers_get_distinct_property_clones(spark, tmp_path, monkeypatch):
    """r13 ADVICE #1: the fan-out must install a FRESH Properties
    clone per worker invocation — a single shared instance is mutated
    concurrently by Spark's set/restore of spark.sql.execution.id
    around every action, so a sibling's restore can null the key
    mid-write. Asserted via JVM identity: every consumer thunk sees a
    different Properties object, none of them the parent's."""
    from cdc_publisher_spark.streaming import monitor_suite as ms

    sc = spark.sparkContext
    jvm = spark._jvm
    parent_ident = jvm.System.identityHashCode(sc._jsc.sc().getLocalProperties())
    idents = {}

    def recorder(name):
        def f(*a, **k):
            idents[name] = jvm.System.identityHashCode(
                sc._jsc.sc().getLocalProperties()
            )
        return f

    consumers = (
        "dedup_micro_batch", "audio_dup_micro_batch", "hll_micro_batch",
        "cm_micro_batch", "exposure_micro_batch", "vocab_micro_batch",
        "ctx_micro_batch",
    )
    for fn in consumers:
        monkeypatch.setattr(ms, fn, recorder(fn))
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma", "s0"), (2, "delta eps zeta", "s1")],
        "doc_id long, text string, source string",
    )
    ms.monitor_suite_batch(batch, 0, str(tmp_path / "state"))
    assert set(idents) == set(consumers)
    vals = list(idents.values())
    assert len(set(vals)) == len(vals), idents   # pairwise distinct clones
    assert parent_ident not in vals              # nobody got the original


def test_suite_batch_collects_per_consumer_timings(spark, tmp_path, monkeypatch):
    """r13 VERDICT ask #1 plumbing: `timings` collects one wall-clock
    sample per consumer per trigger, keyed by the chain's name."""
    from cdc_publisher_spark.streaming import monitor_suite as ms

    consumers = {
        "dedup_micro_batch": "dedup_lsh",
        "audio_dup_micro_batch": "audio_dup",
        "hll_micro_batch": "hll",
        "cm_micro_batch": "cm",
        "exposure_micro_batch": "exposure",
        "vocab_micro_batch": "vocab",
        "ctx_micro_batch": "ctx",
    }
    for fn in consumers:
        monkeypatch.setattr(ms, fn, lambda *a, **k: None)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma", "s0"), (2, "delta eps zeta", "s1")],
        "doc_id long, text string, source string",
    )
    timings: dict = {}
    ms.monitor_suite_batch(batch, 0, str(tmp_path / "state"), timings=timings)
    ms.monitor_suite_batch(batch, 1, str(tmp_path / "state"), timings=timings)
    assert set(timings) == set(consumers.values())
    assert all(len(v) == 2 for v in timings.values()), timings
    assert all(s >= 0 for v in timings.values() for s in v)
