"""Workload ``monitor_suite``: the nine-consumer suite
(``streaming.monitor_suite.stream_monitor_suite``) draining the
documents ⋈ embeddings corpus of the seeded tables, split into
N_PARTS trigger files by the seed, on a fresh state root and
checkpoint.

End-to-end: ``throughput_per_s`` is corpus rows / drain wall time;
``latency_p50_ms`` / ``latency_p95_ms`` are per trigger (the query's
``triggerExecution``). Each consumer's merged state is then compared
with its one-shot batch twin, with the comparators of
tests/test_monitor_suite.py (the audio guard's twin groups clips by
fingerprint rather than by text); a consumer whose state differs is one
failed item.

Not listed in BENCHMARK.json: every trigger costs about 25 s whatever
its size (the three heavy chains), so one run takes about 100 s against
50-60 s for each listed workload. Run it by hand: ``python3 perfbench/run.py --workload monitor_suite --seed 1
--seconds 10 --trace 1``.
"""

from __future__ import annotations

import os
import time

from perfbench import common
from perfbench.inputs import write_corpus, write_tables

SCALE = 0.01
N_PARTS = 3
CONSUMERS = ("dedup_lsh", "embed_dup", "audio_dup", "hll", "cm", "exposure", "vocab", "ctx", "drift")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _checks(spark, root: str, full, twin: str) -> tuple[dict, dict]:
    """{consumer: merged state equals its batch twin}, and the pair
    counts of the three duplicate detectors."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.functions.text import words
    from cdc_publisher_spark.operators.cm import cm_cells
    from cdc_publisher_spark.operators.embed_lsh import embedding_neardup_banded
    from cdc_publisher_spark.operators.hll import hll_registers
    from cdc_publisher_spark.operators.multimodal import synth_media_from_text
    from cdc_publisher_spark.streaming.audio_monitor import audio_fpk, read_audio_dups, read_audio_fpk_state
    from cdc_publisher_spark.streaming.cm_monitor import read_cm_cells
    from cdc_publisher_spark.streaming.ctx_monitor import ctx_economics, read_ctx_curve
    from cdc_publisher_spark.streaming.drift_monitor import centroid_deltas, read_centroid_sums
    from cdc_publisher_spark.streaming.embed_monitor import read_embed_pairs, read_embed_vec_state
    from cdc_publisher_spark.streaming.exposure_monitor import gram_deltas, read_gram_counts
    from cdc_publisher_spark.streaming.hll_monitor import read_hll_registers
    from cdc_publisher_spark.streaming.incremental_dedup import dedup_micro_batch, read_dedup_state
    from cdc_publisher_spark.streaming.monitor_suite import suite_dir
    from cdc_publisher_spark.streaming.vocab_monitor import read_first_seen

    d = lambda name: suite_dir(root, name)  # noqa: E731
    word_rows = full.select("source", F.explode(words(F.col("text"))).alias("w"))
    ids = _rows(full.select("doc_id"))
    pairs = {
        "dedup": read_dedup_state(spark, d("dedup_pairs")).select("d1", "d2", "jaccard"),
        "embed": read_embed_pairs(spark, d("embed_pairs")),
        "audio": read_audio_dups(spark, d("audio_pairs")),
    }

    def dedup():
        dedup_micro_batch(full, 0, f"{twin}/corpus", f"{twin}/idx", f"{twin}/pairs")
        want = read_dedup_state(spark, f"{twin}/pairs").select("d1", "d2", "jaccard")
        corpus = read_dedup_state(spark, d("dedup_corpus")).select("doc_id")
        return _rows(pairs["dedup"]) == _rows(want) and _rows(corpus) == ids

    def audio():
        # twin: same-fingerprint pairs over the whole corpus at once (the
        # suite test pairs equal texts instead, which misses distinct
        # texts whose synthesized clips fingerprint alike)
        fpk = audio_fpk(synth_media_from_text(full)).select(F.col("fpk").alias("tk"), F.col("media_id").alias("doc_id"))
        want = (
            fpk.groupBy("tk")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .select(F.explode(F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids)), b -> struct(a as orig_id, b as dup_id))))"
            )).alias("p"))
            .select("p.orig_id", "p.dup_id")
        )
        state = read_audio_fpk_state(spark, d("audio_fpk")).select("media_id")
        return _rows(pairs["audio"]) == _rows(want) and _rows(state) == ids

    def embed():
        want = embedding_neardup_banded(
            full.select(F.col("doc_id").alias("vec_id"), "embedding"), 0.42
        ).select("i", "j", "cosine")
        vecs = read_embed_vec_state(spark, d("embed_vecs")).select("doc_id")
        return _rows(pairs["embed"]) == _rows(want) and _rows(vecs) == ids

    checks = {
        "dedup_lsh": dedup,
        "embed_dup": embed,
        "audio_dup": audio,
        "hll": lambda: _rows(read_hll_registers(spark, d("hll"), "source"))
        == _rows(hll_registers(word_rows, ["source"], "w")),
        "cm": lambda: _rows(read_cm_cells(spark, d("cm"), ["source"])) == _rows(cm_cells(word_rows, "w", ["source"])),
        "exposure": lambda: _rows(read_gram_counts(spark, d("exposure"))) == _rows(gram_deltas(full)),
        "vocab": lambda: _rows(read_first_seen(spark, d("vocab")).select("source", "wh"))
        == _rows(word_rows.select("source", F.xxhash64("w").alias("wh")).distinct()),
        "ctx": lambda: _rows(read_ctx_curve(spark, d("ctx"))) == _rows(ctx_economics(full)),
        "drift": lambda: _rows(read_centroid_sums(spark, d("drift"))) == _rows(centroid_deltas(full)),
    }
    return {name: checks[name]() for name in CONSUMERS}, {k: v.count() for k, v in pairs.items()}


def _dir_size(root: str) -> tuple[float, int]:
    files = [os.path.join(p, f) for p, _, fs in os.walk(root) for f in fs]
    return sum(os.path.getsize(f) for f in files) / 2**20, len(files)


def run(run) -> common.Result:
    from cdc_publisher_spark.streaming.monitor_suite import stream_monitor_suite

    sf_dir, src = run.path("sf"), run.path("corpus")
    root, ckpt = run.path("state"), run.path("ckpt")
    run.generate(write_tables, common.ROOT, run.seed, SCALE, sf_dir)
    n_rows = run.generate(write_corpus, sf_dir, run.seed, N_PARTS, src)

    spark = run.session()
    full = spark.read.parquet(src)
    setup_s = run.setup_done()

    timings: dict[str, list] = {}
    run.measure_begin()
    t0 = time.perf_counter()
    stream = spark.readStream.schema(full.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = stream_monitor_suite(stream, root, ckpt, **({"timings": timings} if run.trace else {}))
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    run.measure_end()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()

    ok, pair_counts = _checks(spark, root, full, run.path("twin"))
    failures = [f"{name}: merged state differs from its batch twin" for name, good in ok.items() if not good]
    trig_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    named = {
        "monitor_rows_per_s": (n_rows / wall, "rows/s"),
        "monitor_triggers": (len(trig_ms), "count"),
    }
    if run.trace:
        for name in CONSUMERS:
            if name in timings:
                run.put(f"monitor.{name}.s_per_trigger", common.median(timings[name]), "s")
            else:
                run.unmeasured[f"monitor.{name}.s_per_trigger"] = "consumer did not run"
        run.put("monitor.trigger_first_s", trig_ms[0] / 1000, "s")
        run.put("monitor.trigger_last_s", trig_ms[-1] / 1000, "s")
        longest = [max(v[i] for v in timings.values()) for i in range(len(trig_ms))]
        run.put("monitor.fanout_slack_s", common.median([t / 1000 - c for t, c in zip(trig_ms, longest)]), "s")
        mb, files = _dir_size(root)
        run.put("monitor.state_mb", mb, "MB")
        run.put("monitor.state_files", files, "count")
        for k, v in pair_counts.items():
            run.put(f"monitor.{k}_pairs", v, "count")
    e2e = {
        "throughput_per_s": n_rows / wall,
        "latency_p50_ms": common.percentile(trig_ms, 50),
        "latency_p95_ms": common.percentile(trig_ms, 95),
    }
    return common.Result(setup_s, e2e, named, len(CONSUMERS), failures)
