"""Workload ``cdc_publish``: the ``serve`` pipeline on one stream, in
two phases.

- catch-up: a pre-written backlog (BACKLOG_FILES x PER_FILE messages)
  drained in triggers of MAX_FILES_PER_TRIGGER files;
- live: perfbench/live_gen.py, a separate single-threaded process,
  publishes one file of PER_TICK messages every TICK_MS for the run's
  ``--seconds`` (open loop, 500 msg/s), so triggers are small.

End-to-end: ``throughput_per_s`` is backlog messages / wall time from
stream start to the offset commit of the last backlog batch;
``latency_p50_ms`` / ``latency_p95_ms`` are per live tick: commit time
of the batch that read the tick's file minus the tick's due time.
Every message of both phases is then checked in the sink.
"""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys
import time

from perfbench import common
from perfbench.inputs import (
    DEAD_TOPIC,
    STREAM_BACKLOG,
    STREAM_LIVE,
    STREAM_WARMUP,
    dml_file,
    write_dml_file,
)

BACKLOG_FILES, PER_FILE = 160, 500
MAX_FILES_PER_TRIGGER = 40
WARMUP_FILES = 5
#: 500 msg/s, about 6% of catch-up capacity. At 2000 msg/s (a quarter)
#: a slower trigger gathered more rows and slowed the next one, so a
#: host slowdown came out amplified in the latency.
TICK_MS, PER_TICK = 50, 25


def _backlog_name(i: int) -> str:
    return f"backlog-{i:05d}.txt"


def _write_inputs(seed: int, src: str, warm: str) -> dict:
    """Write the backlog and the warm-up files; return the backlog's
    expected sink rows as {raw line: (topic, key)}."""
    for d in (src, warm):
        os.makedirs(d, exist_ok=True)
    expected = {}
    for i in range(BACKLOG_FILES):
        msgs = dml_file(seed, STREAM_BACKLOG, i, PER_FILE)
        write_dml_file(os.path.join(src, _backlog_name(i)), msgs)
        expected.update((raw, (topic, key)) for raw, topic, key in msgs)
    for i in range(WARMUP_FILES):
        write_dml_file(os.path.join(warm, _backlog_name(i)), dml_file(seed, STREAM_WARMUP, i, PER_FILE))
    return expected


def _check_sink(spark, out: str, expected: dict) -> list:
    """Each expected message once, value byte-identical, topic = table
    (dead-letter topic for malformed), key = the benchmark's own key
    (NULL for malformed). Returns one line per failing message."""
    rows = spark.read.parquet(out).select("key", "value", "topic").toPandas()
    seen: dict[str, list] = {}
    for key, value, topic in rows.itertuples(index=False, name=None):
        seen.setdefault(value, []).append((topic, None if key is None else key))
    failures = []
    for value, want in expected.items():
        got = seen.pop(value, [])
        if got != [want]:
            failures.append(f"message {value[:60]!r}: want {want}, sink has {got}")
    failures += [f"unexpected sink row {v[:60]!r}" for v in seen]
    return failures


def progress_listener():
    """A StreamingQueryListener that keeps every progress event as a
    dict (``StreamingQueryProgress.json``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


def wait_for_progress(listener, batch_id: int, timeout: float = 10.0) -> None:
    """Listener events arrive on an asynchronous bus: wait until the
    event of ``batch_id`` has landed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if any(e["batchId"] >= batch_id for e in list(listener.events)):
            return
        time.sleep(0.05)


PHASES = {"triggerExecution": "trigger_ms", "latestOffset": "latest_offset_ms",
          "getBatch": "get_batch_ms", "queryPlanning": "query_planning_ms",
          "addBatch": "add_batch_ms", "walCommit": "wal_commit_ms",
          "commitOffsets": "commit_offsets_ms"}


def _phase(run, prefix: str, events, jobs: int) -> None:
    """Medians over the phase's triggers that read rows: each trigger
    phase's ms (listener ``durationMs``), rows, and jobs per trigger."""
    events = [e for e in events if e.get("numInputRows", 0) > 0]
    if not events:
        run.unmeasured[prefix] = "no progress event with input rows"
        return
    for k, name in PHASES.items():
        run.put(f"{prefix}.{name}", common.median([e["durationMs"].get(k, 0) for e in events]), "ms")
    run.put(f"{prefix}.rows_per_trigger", common.median([e["numInputRows"] for e in events]), "rows")
    run.put(f"{prefix}.triggers", len(events), "count")
    run.put(f"{prefix}.jobs_per_trigger", jobs / len(events), "count")


def _layer_calls(run, spark, src: str, n_rows: int) -> None:
    """Batch calls of each layer's public function over the backlog."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.cdc.envelope import with_envelope
    from cdc_publisher_spark.cdc.keying import key_from_raw_json_vectorized
    from cdc_publisher_spark.sources.files import read_dml_batch
    from cdc_publisher_spark.streaming.pipeline import split_wire

    df = read_dml_batch(spark, os.path.join(src, "backlog-*.txt"))

    def rate(name, action):
        t = time.perf_counter()
        action()
        run.put(name, n_rows / (time.perf_counter() - t), "rows/s")

    def noop(frame):
        frame.write.format("noop").mode("overwrite").save()

    def wire():
        good, dead = split_wire(df)
        return good.unionByName(dead)

    rate("sources.files.scan_rows_per_s", df.count)
    rate("cdc.envelope.parse_rows_per_s", lambda: noop(with_envelope(df)))
    rate("cdc.keying.key_rows_per_s", lambda: noop(df.select(key_from_raw_json_vectorized(F.col("raw")))))
    rate("streaming.pipeline.split_wire_rows_per_s", lambda: noop(wire()))
    rate("sink.parquet_rows_per_s",
         lambda: wire().write.mode("overwrite").partitionBy("topic").parquet(run.path("layer_sink")))


def run(run) -> common.Result:
    seed, src, warm = run.seed, run.path("src"), run.path("warm")
    out, ckpt = run.path("out"), run.path("ckpt")
    expected = run.generate(_write_inputs, seed, src, warm)

    spark = run.session()
    from cdc_publisher_spark.sources.files import read_dml_stream
    from cdc_publisher_spark.streaming.pipeline import run_file_to_parquet

    listener = progress_listener()
    if run.trace:
        spark.streams.addListener(listener)
    # warm-up: a short drain of its own stream, so JIT and the Python
    # workers are warm before the backlog starts
    q = run_file_to_parquet(read_dml_stream(spark, warm), run.path("warm_out"), run.path("warm_ckpt"))
    q.processAllAvailable()
    q.stop()
    setup_s = run.setup_done()

    # catch-up
    run.measure_begin()
    t0 = time.time()
    q = run_file_to_parquet(read_dml_stream(spark, src, MAX_FILES_PER_TRIGGER), out, ckpt)
    q.processAllAvailable()
    jobs_catchup = common.jobs_in_group(spark, str(q.runId))

    # live
    n_ticks = int(run.seconds * 1000 / TICK_MS)
    report = run.path("live_report.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(common.ROOT, "perfbench", "live_gen.py"),
         "--seed", str(seed), "--dir", src, "--start", repr(time.time() + 0.5),
         "--ticks", str(n_ticks), "--tick-ms", str(TICK_MS), "--per-tick", str(PER_TICK),
         "--report", report],
    )
    run.rss.exclude.add(gen.pid)
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    try:
        gen.wait(timeout=run.seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    after = resource.getrusage(resource.RUSAGE_CHILDREN)  # reaping adds its CPU to ours
    run.cpu_excluded += (after.ru_utime + after.ru_stime) - (before.ru_utime + before.ru_stime)
    q.processAllAvailable()
    jobs_all = common.jobs_in_group(spark, str(q.runId))
    run.measure_end()
    last_batch = q.lastProgress["batchId"] if q.lastProgress else -1
    q.stop()
    if gen.returncode != 0:
        raise RuntimeError(f"live generator exited with {gen.returncode}")

    with open(report, encoding="utf-8") as f:
        ticks = json.load(f)["ticks"]
    file_batch, commits = common.source_file_batches(ckpt), common.commit_times(ckpt)
    failures = []
    backlog_batches = [file_batch.get(_backlog_name(i)) for i in range(BACKLOG_FILES)]
    if None in backlog_batches:
        failures.append("a backlog file is missing from the source log")
    last_backlog = max(b for b in backlog_batches if b is not None)
    catchup_s = commits[last_backlog] - t0
    n_backlog = BACKLOG_FILES * PER_FILE
    lat, lost = common.tick_latencies_ms([(n, due) for n, due, _ in ticks], file_batch, commits)
    failures += [f"live tick {n} never committed" for n in lost]

    for k in range(len(ticks)):
        for raw, topic, key in dml_file(seed, STREAM_LIVE, k, PER_TICK):
            expected[raw] = (topic, key)
    failures += _check_sink(spark, out, expected)

    p50, p95 = common.percentile(lat, 50), common.percentile(lat, 95)
    named = {
        "cdc_catchup_rows_per_s": (n_backlog / catchup_s, "rows/s"),
        "cdc_live_latency_p50_ms": (p50, "ms"),
        "cdc_live_latency_p95_ms": (p95, "ms"),
        "cdc_live_ticks": (len(lat), "count"),
        "cdc_live_ticks_beyond_p95": (sum(x > p95 for x in lat), "count"),
        "cdc_messages": (len(expected), "count"),
    }

    if run.trace:
        wait_for_progress(listener, last_batch)
        events = [e for e in listener.events if e["runId"] == str(q.runId)]
        _phase(run, "stream.catchup", [e for e in events if e["batchId"] <= last_backlog], jobs_catchup)
        _phase(run, "stream.live", [e for e in events if e["batchId"] > last_backlog], jobs_all - jobs_catchup)
        obs = [e.get("observedMetrics", {}).get("cdc_metrics", {}) for e in events]
        enq = sum(int(o.get("enqueue_count", 0)) for o in obs)
        dead = sum(int(o.get("malformed_count", 0)) for o in obs)
        want_dead = sum(1 for t, _ in expected.values() if t == DEAD_TOPIC)
        run.put("cdc.enqueued", enq, "count")
        run.put("cdc.dead_letters", dead, "count")
        if (enq, dead) != (len(expected) - want_dead, want_dead):
            failures.append(f"cdc_metrics counted {enq} enqueued / {dead} dead letters, "
                            f"generator made {len(expected) - want_dead} / {want_dead}")
        run.put("generator.lag_p99_ms", common.percentile([(p - d) * 1000 for _, d, p in ticks], 99), "ms")
        _layer_calls(run, spark, src, n_backlog)

    e2e = {"throughput_per_s": n_backlog / catchup_s, "latency_p50_ms": p50, "latency_p95_ms": p95}
    return common.Result(setup_s, e2e, named, len(expected), failures)
