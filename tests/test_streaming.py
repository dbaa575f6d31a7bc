"""Streaming semantics tests (SURVEY.md §5.2.4): memory-sink micro-batch
drives for the pipeline, stateful latest-state, windows, watermarks,
dedup, stream-static join, and the D1 control loop.

File sources + processAllAvailable() give deterministic batch
sequencing: write file -> drain -> write file -> drain.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.cdc.keying import derive_key_from_json
from cdc_publisher_spark.cdc.latest_state import latest_per_key
from cdc_publisher_spark.sources.files import read_dml_batch, read_dml_stream, stream_table
from cdc_publisher_spark.streaming.pipeline import run_file_to_parquet, split_wire
from cdc_publisher_spark.streaming.routes import RouteRegistry, route_control_batch


def _dml(i: int, table: str = "orders") -> str:
    return json.dumps(
        {
            "id": {"okey": i, "line": i % 3},
            "type": ["insert", "update", "delete"][i % 3],
            "table": table,
            "data": {"qty": i * 2, "note": f"row{i}"},
            "info": {"user": "tester", "timestamp": f"2024-01-{(i % 27) + 1:02d}T00:00:00"},
        },
        separators=(",", ":"),
    )


@pytest.fixture()
def workdir(tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    return src, str(out), str(ckpt)


def test_pipeline_end_to_end_with_dead_letter_and_restart(spark, workdir):
    src, out, ckpt = workdir
    good_raws = [_dml(i) for i in range(10)]
    (src / "batch1.jsonl").write_text("\n".join(good_raws[:3] + ["{corrupt"] + good_raws[3:5] + ["   "]))

    stream = read_dml_stream(spark, str(src))
    q = run_file_to_parquet(stream, out, ckpt)
    q.processAllAvailable()

    # second batch arrives later; same checkpoint — no reprocessing
    (src / "batch2.jsonl").write_text("\n".join(good_raws[5:]))
    q.processAllAvailable()
    q.stop()

    result = spark.read.parquet(out)
    good = result.filter(F.col("topic") == "orders").collect()
    dead = result.filter(F.col("topic") == "cdc-dead-letter").collect()
    # values byte-for-byte verbatim; keys = reference T3 derivation
    assert sorted(r["value"] for r in good) == sorted(good_raws)
    for r in good:
        assert r["key"] == derive_key_from_json(r["value"])
    # both malformed lines dead-lettered with null key, payload kept
    assert sorted(r["value"] for r in dead) == ["   ", "{corrupt"]
    assert all(r["key"] is None for r in dead)

    # restart from the same checkpoint: nothing re-emitted
    q2 = run_file_to_parquet(read_dml_stream(spark, str(src)), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == len(good) + len(dead)


@pytest.fixture(scope="module")
def drained_publish(spark, tmp_path_factory):
    """One publish stream over two input files (two triggers): the
    query's last executed plan and its progress events."""
    base = tmp_path_factory.mktemp("publish_once")
    src = base / "src"
    src.mkdir()
    files = [[_dml(i) for i in range(7)] + ["{corrupt"], [_dml(i) for i in range(7, 12)]]
    for n, lines in enumerate(files):
        (src / f"f{n}.jsonl").write_text("\n".join(lines) + "\n")
    q = run_file_to_parquet(read_dml_stream(spark, str(src), 1), str(base / "out"), str(base / "ckpt"))
    q.processAllAvailable()
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    progress = q.recentProgress
    q.stop()
    return plan, progress, [len(lines) for lines in files]


def test_publish_plan_is_one_scan_one_parse_no_python(drained_publish):
    """The frame run_file_to_parquet writes: one file scan, one JSON
    parse, no union, and no Python UDF."""
    import re

    plan = drained_publish[0]
    assert plan.count("FileScan") == 1, plan
    assert len(re.findall(r"parse_?json", plan, re.IGNORECASE)) == 1, plan
    for node in ("Union", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_publish_reads_each_message_once_per_trigger(drained_publish):
    """numInputRows per trigger equals the trigger's message count."""
    _, progress, per_file = drained_publish
    assert [p["numInputRows"] for p in progress if p["numInputRows"]] == per_file


def test_split_wire_branches_parse_once(spark):
    """Each split_wire branch parses and keys a message once: the key
    filters stay above the projection that computes the key."""
    import re

    raws = spark.createDataFrame([(_dml(1),), ("{corrupt",)], "raw string")
    for branch in split_wire(raws):
        plan = branch._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"parse_?json", plan, re.IGNORECASE)) == 1, plan
        assert plan.count("StructsToJson") == 1, plan


def _jobs_in_group(spark, group: str) -> int:
    """Jobs launched under ``group``. The status store is fed by the
    listener bus, in order, so one marker job run in the group on this
    thread makes every earlier job of the group visible first."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    try:
        sc.parallelize([0], 1).count()
        return len(sc.statusTracker().getJobIdsForGroup(group)) - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_publish_catchup_trigger_runs_one_job(spark, workdir):
    """A catch-up trigger of 40 files runs one Spark job: the batch's
    files are listed on the driver, not by a job of one task per file."""
    src, out, ckpt = workdir
    for i in range(40):
        (src / f"m{i:02d}.jsonl").write_text(_dml(i) + "\n")
    q = run_file_to_parquet(read_dml_stream(spark, str(src), 40), out, ckpt)
    q.processAllAvailable()
    q.stop()
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [40]
    assert _jobs_in_group(spark, str(q.runId)) == 1


def test_batch_reads_list_on_driver(spark, tmp_path):
    """Building a batch frame over 40 files or 40 partition dirs lists
    them on the driver: no Spark job."""
    import uuid

    dml = tmp_path / "dml"
    dml.mkdir()
    for i in range(40):
        (dml / f"m{i:02d}.jsonl").write_text(_dml(i) + "\n")
    spark.range(40).selectExpr("id", "id AS p").write.partitionBy("p").parquet(str(tmp_path / "state"))

    sc = spark.sparkContext
    for build in (
        lambda: read_dml_batch(spark, str(dml / "*.jsonl")),
        lambda: spark.read.schema("id bigint, p bigint").parquet(str(tmp_path / "state")),
    ):
        group = f"list-{uuid.uuid4()}"
        sc.setJobGroup(group, "listing")
        build()
        assert _jobs_in_group(spark, group) == 0


def test_stream_latest_per_key_matches_batch(spark, tmp_path):
    from cdc_publisher_spark.streaming.latest_state_stream import stream_latest_per_key

    src = tmp_path / "ccd"
    src.mkdir()
    rows1 = [{"key": k, "offset": o, "status": f"s{o}"} for k in range(4) for o in range(0, 6, 2)]
    rows2 = [{"key": k, "offset": o, "status": f"s{o}"} for k in range(4) for o in (5, 1)]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows1))

    schema = "key int, offset long, status string"
    stream = spark.readStream.schema(schema).json(str(src))
    latest = stream_latest_per_key(stream, ["key"], "offset", ["status"])
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_state_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    (src / "b.jsonl").write_text("\n".join(json.dumps(r) for r in rows2))
    q.processAllAvailable()
    q.stop()

    # last emitted update per key == batch latest_per_key over all rows
    emitted = spark.sql("SELECT * FROM latest_state_t").collect()
    final: dict[int, tuple[int, str]] = {}
    for r in emitted:  # updates arrive in batch order; later batches overwrite
        cur = final.get(r["key"])
        if cur is None or r["offset"] >= cur[0]:
            final[r["key"]] = (r["offset"], r["status"])
    all_rows = spark.createDataFrame(
        [(r["key"], r["offset"], r["status"]) for r in rows1 + rows2], schema
    )
    expected = {
        r["key"]: (r["offset"], r["status"])
        for r in latest_per_key(all_rows, "key", "offset").collect()
    }
    assert final == expected
    # late/stale offsets (1) after offset 5 must NOT appear as updates
    stale = [r for r in emitted if r["offset"] == 1]
    assert stale == []


def test_streaming_tumbling_window_equals_batch(spark, sf_smoke, tmp_path):
    from cdc_publisher_spark.queries.streaming_batch import q_i1_tumbling_hour
    from cdc_publisher_spark.tables import load

    stream = stream_table(spark, sf_smoke, "events", str(tmp_path))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("w.start").alias("bucket_us"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_t")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["bucket_us"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    expected = {
        (r["bucket_us"], r["event_type"]): r["n"]
        for r in q_i1_tumbling_hour(spark, sf_smoke).collect()
    }
    assert got == expected


def test_session_window_matches_batch_sessionize(spark, sf_smoke, tmp_path):
    from cdc_publisher_spark.queries.streaming_batch import q_i3_sessionize
    from cdc_publisher_spark.tables import load

    stream = stream_table(spark, sf_smoke, "events", str(tmp_path))
    sess = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.unix_micros(F.min("ts")).alias("start_us"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("session_t")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["start_us"]): r["n_events"]
        for r in spark.sql("SELECT * FROM session_t").collect()
    }
    expected = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in q_i3_sessionize(spark, sf_smoke).collect()
    }
    assert got == expected


def test_watermark_drops_late_data(spark, tmp_path):
    src = tmp_path / "late"
    src.mkdir()
    schema = "ts timestamp, k string"
    # batch 1: advance event-time to 12:00
    (src / "a.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01 10:00:00", "k": "x"},
                {"ts": "2024-01-01 12:00:00", "k": "x"},
            ]
        )
    )
    stream = spark.readStream.schema(schema).json(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("w.start").alias("start_us"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: a row far below the watermark (10:30 < 11:50) + a fresh row
    (src / "b.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01 10:30:00", "k": "late"},
                {"ts": "2024-01-01 13:00:00", "k": "x"},
            ]
        )
    )
    q.processAllAvailable()
    # batch 3: push watermark past 13:00 so the 12:00 window finalizes
    (src / "c.jsonl").write_text(json.dumps({"ts": "2024-01-01 15:00:00", "k": "x"}))
    q.processAllAvailable()
    q.stop()
    rows = {r["start_us"]: r["n"] for r in spark.sql("SELECT * FROM late_t").collect()}
    h10 = 1704103200000000  # 2024-01-01 10:00 UTC
    # the late 10:30 row was dropped: hour-10 window finalized with n=1
    assert rows.get(h10) == 1


def test_drop_duplicates_within_watermark(spark, tmp_path):
    src = tmp_path / "dups"
    src.mkdir()
    schema = "ts timestamp, k string"
    (src / "a.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"ts": "2024-01-01 10:00:00", "k": "a"},
                {"ts": "2024-01-01 10:00:05", "k": "a"},  # redelivery
                {"ts": "2024-01-01 10:00:00", "k": "b"},
            ]
        )
    )
    stream = spark.readStream.schema(schema).json(str(src))
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    q.processAllAvailable()
    # second delivery in a later batch, still within the watermark window
    (src / "b.jsonl").write_text(json.dumps({"ts": "2024-01-01 10:00:10", "k": "a"}))
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT k, count(*) n FROM dedup_t GROUP BY k").collect()
    counts = {r["k"]: r["n"] for r in rows}
    assert counts == {"a": 1, "b": 1}  # at-least-once input -> exactly-once output


def test_stream_static_join(spark, sf_smoke, tmp_path):
    from cdc_publisher_spark.tables import load

    ev = load(spark, sf_smoke, "events")
    cust = load(spark, sf_smoke, "customer")
    stream = stream_table(spark, sf_smoke, "events", str(tmp_path))
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey, "inner"
    ).select("event_id", "user_id", "c_mktsegment")
    q = joined.writeStream.format("memory").queryName("ssj_t").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) n FROM ssj_t").collect()[0]["n"]
    expected = (
        ev.join(cust, ev.user_id == cust.c_custkey, "inner").count()
    )
    assert got == expected and got > 0


def test_route_control_loop(spark, tmp_path):
    """D1: the registry follows activation/deactivation transitions."""
    src = tmp_path / "routes"
    src.mkdir()
    schema = "key int, offset long, status string, queue string"
    added, removed = [], []
    registry = RouteRegistry(
        on_add=lambda qname: added.append(qname) or f"handle-{qname}",
        on_remove=lambda qname, h: removed.append((qname, h)),
    )
    from cdc_publisher_spark.streaming.latest_state_stream import stream_latest_per_key

    def rows(batch):
        return "\n".join(json.dumps(r) for r in batch)

    (src / "a.jsonl").write_text(
        rows(
            [
                {"key": 1, "offset": 1, "status": "active", "queue": "aq.q1"},
                {"key": 2, "offset": 1, "status": "active", "queue": "aq.q2"},
                {"key": 3, "offset": 1, "status": "submitted", "queue": "aq.q3"},
            ]
        )
    )
    stream = spark.readStream.schema(schema).json(str(src))
    latest = stream_latest_per_key(stream, ["key"], "offset", ["status", "queue"])
    q = (
        latest.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .foreachBatch(route_control_batch(registry))
        .start()
    )
    q.processAllAvailable()
    assert registry.live_count == 2 and set(added) == {"aq.q1", "aq.q2"}

    # q2 errors out; q3 becomes active
    (src / "b.jsonl").write_text(
        rows(
            [
                {"key": 2, "offset": 9, "status": "error", "queue": "aq.q2"},
                {"key": 3, "offset": 9, "status": "active", "queue": "aq.q3"},
            ]
        )
    )
    q.processAllAvailable()
    q.stop()
    assert registry.live_count == 2
    assert set(registry.routes()) == {"aq.q1", "aq.q3"}
    assert removed == [("aq.q2", "handle-aq.q2")]


def test_error_writeback_to_control_topic(spark):
    """E2: dead letters become CCD error records on the control topic
    (README.md:19-22 spec; absent from the reference's code)."""
    from cdc_publisher_spark.streaming.pipeline import error_writeback

    raws = spark.createDataFrame([("{broken",), ("also bad",)], "raw string")
    _, dead = split_wire(raws)
    wb = error_writeback(dead).collect()
    assert len(wb) == 2
    for r in wb:
        assert r["topic"] == "change-data-capture"
        doc = json.loads(r["value"])
        assert doc["status"] == "error" and doc["payload"] in ("{broken", "also bad")
        assert doc["source_topic"] == "cdc-dead-letter"


def test_sliding_window_stream_equals_batch(spark, sf_smoke, tmp_path):
    from cdc_publisher_spark.queries.streaming_batch import q_i2_sliding_hour

    stream = stream_table(spark, sf_smoke, "events", str(tmp_path))
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "n")
    )
    q = agg.writeStream.format("memory").queryName("sliding_t").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    got = {r["win_start_us"]: r["n"] for r in spark.sql("SELECT * FROM sliding_t").collect()}
    expected = {
        r["win_start_us"]: r["n"] for r in q_i2_sliding_hour(spark, sf_smoke).collect()
    }
    assert got == expected


def test_metrics_listener_collects_wire_counters(spark, workdir):
    """M1: observe() counters + listener surface dequeue/enqueue/
    malformed counts and rows/s in the reference's metric shape."""
    import time

    from cdc_publisher_spark.sources.files import read_dml_stream
    from cdc_publisher_spark.streaming.metrics import CdcMetricsListener, with_wire_metrics

    src, out, ckpt = workdir
    (src / "a.jsonl").write_text("\n".join([_dml(i) for i in range(8)] + ["junk{"]))
    listener = CdcMetricsListener()
    spark.streams.addListener(listener)
    try:
        good, dead = split_wire(read_dml_stream(spark, str(src)))
        wire = with_wire_metrics(good.unionByName(dead))
        q = (
            wire.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName("metrics_t")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # progress events are delivered async; poll briefly
        for _ in range(50):
            if listener.totals.get("metrics_t"):
                break
            time.sleep(0.1)
        totals = listener.totals.get("metrics_t", {})
        assert totals.get("dequeue_count") == 9
        assert totals.get("enqueue_count") == 8
        assert totals.get("malformed_count") == 1
        latest = listener.latest["metrics_t"]
        assert latest["batch_duration_ms"] is not None
    finally:
        spark.streams.removeListener(listener)


def test_snapshot_union_tail_equivalence(spark, tmp_path):
    """U1: a bounded snapshot reduced to latest-per-key, then a live
    tail from the resume offset, must equal one stream-from-earliest
    latest-state — the rewrite SURVEY §1.4 promises."""
    from cdc_publisher_spark.cdc.latest_state import latest_per_key, max_offset
    from cdc_publisher_spark.sources import dmlspool
    from cdc_publisher_spark.streaming.latest_state_stream import stream_latest_per_key

    spool = tmp_path / "u1"
    spool.mkdir()
    rows1 = [{"key": k, "offset": k * 10 + i, "status": f"s{i}"} for k in range(3) for i in range(3)]
    (spool / "0.jsonl").write_text("\n".join(json.dumps(r) for r in rows1))

    # batch snapshot + resume token (S1/A1/A2)
    dmlspool.register(spark)
    snap_raw = spark.read.format("dmlspool").option("path", str(spool)).load()
    snap = spark.read.json(snap_raw.rdd.map(lambda r: r["raw"]))
    snapshot_state = {
        (r["key"], r["offset"], r["status"])
        for r in latest_per_key(snap.select("key", "offset", "status"), "key", "offset").collect()
    }
    token = max_offset(snap, "offset").collect()[0]["resume_offset"]
    assert token == max(r["offset"] for r in rows1)

    # tail arrives; single stream-from-earliest over snapshot+tail
    rows2 = [{"key": 1, "offset": 100, "status": "tail"}, {"key": 9, "offset": 101, "status": "new"}]
    (spool / "1.jsonl").write_text("\n".join(json.dumps(r) for r in rows2))
    parsed = (
        spark.readStream.schema("key long, offset long, status string").json(str(spool))
    )
    latest = stream_latest_per_key(parsed, ["key"], "offset", ["status"])
    q = (
        latest.writeStream.format("memory").queryName("u1_t").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_u1")).start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.sql("SELECT * FROM u1_t").collect()
    final: dict[int, tuple[int, str]] = {}
    for r in emitted:
        cur = final.get(r["key"])
        if cur is None or r["offset"] >= cur[0]:
            final[r["key"]] = (r["offset"], r["status"])
    # stream state == snapshot state overlaid with tail updates
    expected = {k: (o, s) for (k, o, s) in snapshot_state}
    for r in rows2:
        expected[r["key"]] = (r["offset"], r["status"])
    assert final == expected


def test_kafka_source_guard_raises_clear_error(spark):
    """No broker/jar in this container: the Kafka entry points must
    fail with an actionable error, not an opaque ClassNotFound."""
    import pytest as _pytest

    from cdc_publisher_spark.sources.kafka import KafkaUnavailable, read_control_snapshot

    with _pytest.raises(KafkaUnavailable) as exc:
        read_control_snapshot(spark, "localhost:9092")
    assert "spark-sql-kafka" in str(exc.value)


def test_stateful_latest_state_survives_restart(spark, tmp_path):
    """The state store checkpoints per-key state: after a stop/restart
    the operator must remember pre-restart maxima (not re-emit or
    regress them) — the engine's equivalent of the reference resuming
    from its offset token."""
    from cdc_publisher_spark.streaming.latest_state_stream import stream_latest_per_key

    src = tmp_path / "restart"
    src.mkdir()
    schema = "key int, offset long, status string"
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"key": k, "offset": 10, "status": "pre"}) for k in range(3))
    )

    out = str(tmp_path / "emitted")

    def start():
        # memory sink cannot recover from a checkpoint; foreachBatch +
        # append-parquet collector supports restart
        stream = spark.readStream.schema(schema).json(str(src))
        latest = stream_latest_per_key(stream, ["key"], "offset", ["status"])
        return (
            latest.writeStream.outputMode("update")
            .foreachBatch(lambda df, eid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    # after restart: a STALE offset must be suppressed by recovered
    # state; a fresh offset must win
    (src / "b.jsonl").write_text(
        "\n".join(
            [
                json.dumps({"key": 0, "offset": 5, "status": "stale"}),
                json.dumps({"key": 1, "offset": 99, "status": "fresh"}),
            ]
        )
    )
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    emitted = spark.read.parquet(out).collect()
    post_restart = [r for r in emitted if r["status"] in ("stale", "fresh")]
    assert [(r["key"], r["offset"], r["status"]) for r in post_restart] == [(1, 99, "fresh")]


def test_streaming_corpus_prep_matches_batch(spark, sf_smoke, tmp_path):
    """The K-family corpus-prep projections (PII redaction, chunking,
    incremental-dedup flagging vs a static history) are stateless per
    row/doc, so they must run UNCHANGED on a document stream and emit
    exactly the batch result — micro-batch ingest of a crawl is the
    production shape at 100 TB, not a one-shot batch."""
    from cdc_publisher_spark.operators.chunk import chunk_documents
    from cdc_publisher_spark.operators.redact import pii_hits, redact
    from cdc_publisher_spark.tables import load

    docs = load(spark, sf_smoke, "documents")
    stream = stream_table(spark, sf_smoke, "documents", str(tmp_path))

    contact = F.concat(F.lit("mail x"), F.col("doc_id").cast("string"), F.lit("@ex.org 10.0.0.1"))

    def prep(df):
        hist = F.broadcast(
            docs.filter(F.col("doc_id") < 450).select(F.md5("text").alias("h")).distinct()
        )
        return (
            chunk_documents(df.withColumn("text", redact(F.col("text"))), 64, 16)
            .join(
                df.select("doc_id", F.md5("text").alias("h"), pii_hits(contact).alias("hits")),
                "doc_id",
            )
            .join(hist.withColumn("dup_hist", F.lit(True)), "h", "left")
            .select("doc_id", "chunk_idx", "n_tok", "chunk_md5", "hits", "dup_hist")
        )

    q = (
        prep(stream)
        .writeStream.format("memory")
        .queryName("prep_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM prep_t").collect()
    }
    expected = {tuple(r) for r in prep(docs).collect()}
    assert got == expected and len(got) > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_smoke, tmp_path):
    """Stream-stream inner join with event-time watermarks and an
    interval condition (the production shape — watermarks bound the
    join state): click events joined to view events of the same user
    within the following hour must equal the batch join."""
    from cdc_publisher_spark.tables import load

    ev = load(spark, sf_smoke, "events")
    views_s = stream_table(spark, sf_smoke, "events", str(tmp_path / "l")).filter(
        F.col("event_type") == "view"
    ).select(F.col("user_id").alias("v_user"), F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts"))
    clicks_s = stream_table(spark, sf_smoke, "events", str(tmp_path / "r")).filter(
        F.col("event_type") == "click"
    ).select(F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))

    joined = (
        views_s.withWatermark("v_ts", "2 hours")
        .join(
            clicks_s.withWatermark("c_ts", "2 hours"),
            F.expr(
                "v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR"
            ),
        )
        .select("v_user", "v_id", "c_id")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj2_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["v_user"], r["v_id"], r["c_id"]) for r in spark.sql("SELECT * FROM ssj2_t").collect()}

    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    expected = {
        (r["v_user"], r["v_id"], r["c_id"])
        for r in v.join(
            c,
            F.expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR"),
        ).select("v_user", "v_id", "c_id").collect()
    }
    assert got == expected and len(got) > 0


def test_stream_stream_left_outer_interval_join_equals_batch(spark, sf_smoke, tmp_path):
    """Stream-stream LEFT OUTER join with watermarks + interval bound.
    Outer semantics are the subtle half of the stream-stream join
    contract: an unmatched left row may only emit once the watermark
    proves no matching right row can still arrive. A bounded replay
    never advances the watermark past its own tail, so the test
    appends a far-future flush row to both sides to force the final
    unmatched emissions, then checks set-equality against the batch
    left join."""
    from cdc_publisher_spark.tables import load

    ev = load(spark, sf_smoke, "events")
    v_schema = "v_user bigint, v_id bigint, v_ts timestamp"
    c_schema = "c_user bigint, c_id bigint, c_ts timestamp"
    v_batch = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS v_user", "event_id AS v_id", "ts AS v_ts"
    )
    c_batch = ev.filter(F.col("event_type") == "click").selectExpr(
        "user_id AS c_user", "event_id AS c_id", "ts AS c_ts"
    )
    v_dir, c_dir = str(tmp_path / "v"), str(tmp_path / "c")
    v_batch.write.parquet(v_dir)
    c_batch.write.parquet(c_dir)

    cond = F.expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR")
    views_s = spark.readStream.schema(v_schema).parquet(v_dir).withWatermark("v_ts", "2 hours")
    clicks_s = spark.readStream.schema(c_schema).parquet(c_dir).withWatermark("c_ts", "2 hours")
    joined = views_s.join(clicks_s, cond, "leftOuter").select(
        "v_user", "v_id", F.coalesce("c_id", F.lit(-1)).alias("c_id")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # watermark flush: one far-future row per side unsticks every
    # pending unmatched left row (global watermark = min over sides)
    far = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    flush_ts = far + datetime.timedelta(hours=12)
    spark.createDataFrame([(-1, -1, flush_ts)], v_schema).write.mode("append").parquet(v_dir)
    spark.createDataFrame([(-1, -1, flush_ts)], c_schema).write.mode("append").parquet(c_dir)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["v_user"], r["v_id"], r["c_id"])
        for r in spark.sql("SELECT * FROM ssj_outer_t WHERE v_user >= 0").collect()
    }

    expected = {
        (r["v_user"], r["v_id"], r["c_id"])
        for r in v_batch.join(c_batch, cond, "leftOuter")
        .select("v_user", "v_id", F.coalesce("c_id", F.lit(-1)).alias("c_id"))
        .collect()
    }
    unmatched = {t for t in expected if t[2] == -1}
    assert got == expected
    assert unmatched and unmatched <= got  # outer rows actually emitted


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs protobuf for its Python "
    "state-server channel; not installed in this container (and "
    "installs are disallowed) — operator is guarded like sources/kafka",
)
def test_tws_latest_per_key_matches_apply_in_pandas_variant(spark, tmp_path):
    """transformWithStateInPandas twin emits the same final state per
    key as the applyInPandasWithState operator and the batch max_by."""
    from cdc_publisher_spark.cdc.latest_state import latest_per_key
    from cdc_publisher_spark.streaming.latest_state_stream import (
        stream_latest_per_key_tws,
    )

    src = tmp_path / "ccd"
    src.mkdir()
    rows1 = [{"key": k, "offset": o, "status": f"s{o}"} for k in range(4) for o in range(0, 6, 2)]
    rows2 = [{"key": k, "offset": o, "status": f"s{o}"} for k in range(4) for o in (5, 1)]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows1))

    schema = "key int, offset long, status string"
    stream = spark.readStream.schema(schema).json(str(src))
    latest = stream_latest_per_key_tws(stream, ["key"], "offset", ["status"])
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_state_tws")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_tws"))
        .start()
    )
    q.processAllAvailable()
    (src / "b.jsonl").write_text("\n".join(json.dumps(r) for r in rows2))
    q.processAllAvailable()
    q.stop()

    emitted = spark.sql("SELECT * FROM latest_state_tws").collect()
    final: dict[int, tuple[int, str]] = {}
    for r in emitted:
        cur = final.get(r["key"])
        if cur is None or r["offset"] >= cur[0]:
            final[r["key"]] = (r["offset"], r["status"])
    all_rows = spark.createDataFrame(
        [(r["key"], r["offset"], r["status"]) for r in rows1 + rows2], schema
    )
    batch = {
        r["key"]: (r["offset"], r["status"])
        for r in latest_per_key(all_rows, ["key"], "offset", ["status"]).collect()
    }
    assert final == batch


def test_drift_monitor_stream_matches_batch(spark, tmp_path):
    """Windowed-PSI drift monitor: streaming (two micro-batches,
    complete mode) converges to exactly the batch result — counts AND
    the fixed-order PSI double."""
    from cdc_publisher_spark.streaming.monitor import drift_monitor

    src = tmp_path / "ev"
    src.mkdir()
    import random

    rng = random.Random(7)
    rows = [
        {
            "ts": f"2024-01-{1 + rng.randrange(28):02d}T{rng.randrange(24):02d}:00:00Z",
            "event_type": rng.choice(["click", "purchase", "view"]),
            "value": round(rng.uniform(0, 500), 2),
        }
        for _ in range(400)
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows[:250]))

    schema = "ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        drift_monitor(stream)
        .writeStream.format("memory")
        .queryName("drift_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    (src / "b.jsonl").write_text("\n".join(json.dumps(r) for r in rows[250:]))
    q.processAllAvailable()
    q.stop()

    got = {
        r["win_start_s"]: (r["n_ref"], r["n_new"], r["psi"])
        for r in spark.sql("SELECT * FROM drift_t").collect()
    }
    batch_df = spark.read.schema(schema).json(str(src))
    expected = {
        r["win_start_s"]: (r["n_ref"], r["n_new"], r["psi"])
        for r in drift_monitor(batch_df).collect()
    }
    assert got == expected
    assert len(expected) >= 2  # the month spans multiple 7-day windows


def test_stream_stream_full_outer_interval_join_equals_batch(spark, sf_smoke, tmp_path):
    """Stream-stream FULL OUTER join with watermarks + interval bound —
    the last join mode in the stream-stream contract: unmatched rows on
    BOTH sides may only emit once the watermark proves no match can
    still arrive (flushed here by a far-future row per side, the same
    replay trick as the left-outer test), and the final table must
    equal the batch full-outer join."""
    import datetime

    from cdc_publisher_spark.tables import load

    ev = load(spark, sf_smoke, "events")
    v_schema = "v_user bigint, v_id bigint, v_ts timestamp"
    c_schema = "c_user bigint, c_id bigint, c_ts timestamp"
    v_batch = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS v_user", "event_id AS v_id", "ts AS v_ts"
    )
    c_batch = ev.filter(F.col("event_type") == "click").selectExpr(
        "user_id AS c_user", "event_id AS c_id", "ts AS c_ts"
    )
    v_dir, c_dir = str(tmp_path / "v"), str(tmp_path / "c")
    v_batch.write.parquet(v_dir)
    c_batch.write.parquet(c_dir)

    cond = F.expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + INTERVAL 1 HOUR")
    views_s = spark.readStream.schema(v_schema).parquet(v_dir).withWatermark("v_ts", "2 hours")
    clicks_s = spark.readStream.schema(c_schema).parquet(c_dir).withWatermark("c_ts", "2 hours")
    joined = views_s.join(clicks_s, cond, "full_outer").select(
        F.coalesce("v_user", F.lit(-1)).alias("v_user"),
        F.coalesce("v_id", F.lit(-1)).alias("v_id"),
        F.coalesce("c_user", F.lit(-1)).alias("c_user"),
        F.coalesce("c_id", F.lit(-1)).alias("c_id"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_fo_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    far = ev.agg(F.max("ts")).collect()[0][0]
    flush_ts = far + datetime.timedelta(hours=12)
    spark.createDataFrame([(-9, -9, flush_ts)], v_schema).write.mode("append").parquet(v_dir)
    spark.createDataFrame([(-9, -9, flush_ts)], c_schema).write.mode("append").parquet(c_dir)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["v_user"], r["v_id"], r["c_user"], r["c_id"])
        for r in spark.sql(
            "SELECT * FROM ssj_fo_t WHERE v_user <> -9 AND c_user <> -9"
        ).collect()
    }

    expected = {
        (
            r["v_user"] if r["v_user"] is not None else -1,
            r["v_id"] if r["v_id"] is not None else -1,
            r["c_user"] if r["c_user"] is not None else -1,
            r["c_id"] if r["c_id"] is not None else -1,
        )
        for r in v_batch.join(c_batch, cond, "full_outer").collect()
    }
    # both unmatched directions must actually occur
    assert any(t[0] == -1 for t in expected) and any(t[2] == -1 for t in expected)
    assert got == expected


def test_hll_sketch_is_streaming_mergeable(spark, sf_smoke, tmp_path):
    """approx_count_distinct is a mergeable HLL sketch: merging per
    micro-batch partial sketches must yield the IDENTICAL estimate the
    one-shot batch aggregation computes (commutative, deterministic
    merge — the q_d5 sketch's streaming story, like count-min's)."""
    from cdc_publisher_spark.sources.files import stream_table
    from cdc_publisher_spark.tables import load

    stream = stream_table(spark, sf_smoke, "events", str(tmp_path))
    agg = stream.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_stream_t")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_type, r.approx_users)
        for r in spark.sql("SELECT * FROM hll_stream_t").collect()
    }
    expected = {
        (r.event_type, r.approx_users)
        for r in load(spark, sf_smoke, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .collect()
    }
    assert got == expected and len(got) > 0
