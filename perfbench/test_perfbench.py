"""Tests of the benchmark's own pure parts: seeded generators, the
benchmark's key function, percentiles and the streaming-log reading
behind the live latency.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import common
from perfbench.inputs import (
    DEAD_TOPIC,
    STREAM_BACKLOG,
    STREAM_LIVE,
    TABLES,
    dml_file,
    expected_key,
    table_schemas,
    write_corpus,
    write_tables,
)


@pytest.mark.parametrize("seed", [1, 2, 17])
def test_dml_generator_is_a_function_of_seed_stream_and_index(seed):
    assert dml_file(seed, STREAM_LIVE, 3, 200) == dml_file(seed, STREAM_LIVE, 3, 200)
    assert table_schemas(seed) == table_schemas(seed)
    assert dml_file(seed, STREAM_LIVE, 3, 200) != dml_file(seed + 1, STREAM_LIVE, 3, 200)
    assert dml_file(seed, STREAM_LIVE, 3, 200) != dml_file(seed, STREAM_BACKLOG, 3, 200)
    assert dml_file(seed, STREAM_LIVE, 3, 200) != dml_file(seed, STREAM_LIVE, 4, 200)


def test_dml_messages_cover_the_reference_shape():
    msgs = [m for i in range(20) for m in dml_file(5, STREAM_BACKLOG, i, 500)]
    raws = [raw for raw, _, _ in msgs]
    assert len(set(raws)) == len(raws)  # values are unique, so "exactly once" is checkable
    assert all("\n" not in r and "\r" not in r for r in raws)
    good = [json.loads(raw) for raw, topic, _ in msgs if topic != DEAD_TOPIC]
    assert {m["table"] for m in good} == set(TABLES)
    assert {m["type"] for m in good} == {"INSERT", "UPDATE", "DELETE"}
    assert {len(m["id"]) for m in good} <= {1, 2, 3} and len({len(m["id"]) for m in good}) > 1
    kinds = {type(v).__name__ for m in good for v in m["id"].values()}
    assert kinds == {"str", "int", "bool"}  # timestamps travel as ISO strings
    assert any(v < 0 for m in good for v in m["id"].values() if type(v) is int)
    assert any(not k.isascii() for m in good for k in m["id"])
    assert len({len(m["data"]) for m in good}) > 5

    dead = [raw for raw, topic, key in msgs if topic == DEAD_TOPIC]
    assert all(key is None for _, topic, key in msgs if topic == DEAD_TOPIC)
    assert 0.02 < len(dead) / len(msgs) < 0.04
    parsed = []
    for raw in dead:
        try:
            parsed.append(json.loads(raw))
        except ValueError:
            parsed.append("truncated")
    assert "truncated" in parsed
    assert any(isinstance(p, dict) and "id" not in p for p in parsed)
    assert any(isinstance(p, dict) and p.get("id") == {} for p in parsed)


def test_benchmark_key_matches_the_engine_key():
    from cdc_publisher_spark.cdc.keying import derive_key, derive_key_from_json

    for seed in (1, 2, 3):
        for raw, topic, key in dml_file(seed, STREAM_BACKLOG, 0, 2000):
            assert derive_key_from_json(raw) == key
            if topic != DEAD_TOPIC:
                id_map = json.loads(raw)["id"]
                assert expected_key(id_map) == derive_key(id_map) == key


def test_expected_key_bytes():
    assert expected_key({"b": 1, "a": "x"}) == '["a","x","b",1]'
    assert expected_key({"ключ": True, "id": -5}) == '["id",-5,"ключ",true]'


def test_tables_and_corpus_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq

    def tables(seed, name):
        d = tmp_path / f"t{seed}-{name}"
        write_tables(common.ROOT, seed, 0.001, str(d))
        return d

    a, b, c = tables(1, "a"), tables(1, "b"), tables(2, "c")
    for t in ("orders", "documents", "embeddings"):
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
    assert not pq.read_table(a / "orders.parquet").equals(pq.read_table(c / "orders.parquet"))

    def parts(seed, name):
        d = tmp_path / name
        n = write_corpus(str(a), seed, 3, str(d))
        return n, [pq.read_table(d / f"part-{p:03d}.parquet").column("doc_id").to_pylist() for p in range(3)]

    n, p1 = parts(7, "c1")
    assert parts(7, "c2") == (n, p1)
    assert parts(8, "c3")[1] != p1
    assert sorted(x for p in p1 for x in p) == list(range(n))


def test_percentile():
    assert common.percentile([3, 1, 2], 50) == 2
    assert common.percentile([1, 2, 3, 4], 50) == 2.5
    assert common.percentile(list(range(101)), 95) == 95
    assert common.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


def _write_log(path, entries, version="v1"):
    with open(path, "w", encoding="utf-8") as f:
        f.write(version + "\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


def test_tick_latency_reads_compact_logs(tmp_path):
    """Batches 0-9 appear only in ``9.compact`` (as after Spark compacts
    and cleans the source log); batch 10 in a plain file."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    entry = lambda n, b: {"path": f"file:///in/tick-{n:06d}.txt", "timestamp": 0, "batchId": b}  # noqa: E731
    _write_log(ckpt / "sources" / "0" / "9.compact", [entry(n, n // 2) for n in range(20)])
    _write_log(ckpt / "sources" / "0" / "10", [entry(20, 10), entry(21, 10)])
    (ckpt / "sources" / "0" / ".10.crc").write_text("junk")
    for b in range(11):
        p = ckpt / "commits" / str(b)
        _write_log(p, [{"nextBatchWatermarkMs": 0}])
        os.utime(p, (1000.0 + b, 1000.0 + b))

    fb = common.source_file_batches(str(ckpt))
    assert fb["tick-000000.txt"] == 0 and fb["tick-000019.txt"] == 9 and fb["tick-000021.txt"] == 10
    commits = common.commit_times(str(ckpt))
    assert commits[3] == 1003.0
    ticks = [(f"tick-{n:06d}.txt", 999.5 + n * 0.25) for n in range(22)] + [("tick-000099.txt", 0.0)]
    lat, lost = common.tick_latencies_ms(ticks, fb, commits)
    assert lost == ["tick-000099.txt"]
    assert lat[0] == pytest.approx(500.0)  # tick 0: batch 0 commits at 1000.0
    assert lat[21] == pytest.approx((1010.0 - (999.5 + 21 * 0.25)) * 1000)


def test_busy_seconds_merges_overlapping_jobs():
    spans = [(1000, 3000), (2000, 4000), (6000, 7000), (9000, 20000)]
    assert common.busy_seconds(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)


def test_stage_totals_selects_jobs():
    jobs = {0: ("a", 10, [0, 1]), 1: ("b", 20, [2])}
    stages = {(0, 0): {"tasks": 4, "gc_s": 1.0}, (1, 0): {"tasks": 2, "gc_s": 0.5}, (2, 0): {"tasks": 8, "gc_s": 9.0}}
    tot = common.stage_totals(jobs, stages, lambda g, t: g == "a")
    assert (tot["jobs"], tot["stages"], tot["tasks"], tot["gc_s"]) == (1, 2, 6, 1.5)
