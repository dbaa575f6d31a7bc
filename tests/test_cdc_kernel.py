"""Property tests for the CDC kernel, ported from the reference's
test.check suite (SURVEY.md §5.1, core_test.clj:17-31,
test_generators.clj:10-23) plus the retry fixture table (FIXTURES.md §2).
"""

from __future__ import annotations

import json
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_publisher_spark.cdc.backoff import RetryLoop, backoff_seconds
from cdc_publisher_spark.cdc.keying import (
    derive_key,
    derive_key_from_json,
    flatten_sorted_id,
)

# --- generators mirroring test_generators.clj:10-23 -------------------

scalar_id_value = st.one_of(
    st.text(min_size=1, max_size=20),
    st.integers(min_value=1, max_value=2**31),
    st.integers(min_value=-(2**31), max_value=-1),
    st.booleans(),
    # timestamps travel as ISO strings in JSON
    st.datetimes().map(lambda d: d.isoformat()),
)

id_maps = st.dictionaries(st.text(min_size=1, max_size=10), scalar_id_value, min_size=1, max_size=6)

printable_value = st.one_of(st.text(max_size=20), st.integers(), st.booleans(), st.floats(allow_nan=False, allow_infinity=False))

dml_maps = st.fixed_dictionaries(
    {
        "id": id_maps,
        "type": st.sampled_from(["insert", "update", "delete"]),
        "table": st.text(min_size=1, max_size=12),
        "data": st.dictionaries(st.text(min_size=1, max_size=8), printable_value, min_size=1, max_size=5),
        "info": st.fixed_dictionaries(
            {"user": st.text(min_size=1, max_size=8), "timestamp": st.datetimes().map(lambda d: d.isoformat())}
        ),
    }
)


# --- T3 properties (core_test.clj:17-31) ------------------------------


@given(dml_maps)
@settings(max_examples=200)
def test_key_is_ordered_flattened_id_json(dml):
    """dml->msg-uses-ordered-vector-of-id-as-key: key == JSON of the
    key-sorted, flattened id entries."""
    raw = json.dumps(dml, separators=(",", ":"), ensure_ascii=False)
    key = derive_key_from_json(raw)
    expected_flat = []
    for k in sorted(dml["id"]):
        expected_flat.extend([k, dml["id"][k]])
    assert key == json.dumps(expected_flat, separators=(",", ":"), ensure_ascii=False)
    assert json.loads(key) == expected_flat


@given(dml_maps)
@settings(max_examples=100)
def test_key_independent_of_insertion_order(dml):
    """Permuting the id map's insertion order never changes the key."""
    reversed_id = dict(reversed(list(dml["id"].items())))
    assert derive_key(dml["id"]) == derive_key(reversed_id)


@given(id_maps)
@settings(max_examples=100)
def test_flatten_sorted_shape(id_map):
    flat = flatten_sorted_id(id_map)
    assert len(flat) == 2 * len(id_map)
    assert flat[::2] == sorted(id_map)


@pytest.mark.parametrize(
    "raw",
    ["{not json", "", "null", "[]", '{"id": {}}', '{"id": "scalar"}', '{"noid": 1}'],
)
def test_malformed_yields_none_never_raises(raw):
    assert derive_key_from_json(raw) is None


def test_key_example_from_fixtures():
    """FIXTURES.md §2 worked example: {"b":2,"a":"x"} -> ["a","x","b",2]."""
    assert derive_key({"b": 2, "a": "x"}) == '["a","x","b",2]'


def test_unicode_keys_verbatim():
    assert derive_key({"é": 1, "a": "ü"}) == '["a","ü","é",1]'


# --- R1 backoff (retry.clj:11-17; FIXTURES.md §2 table) ---------------

BACKOFF_TABLE = {0: 0, 1: 5, 2: 10, 3: 25, 4: 65, 5: 125, 6: 215, 7: 345, 8: 510, 9: 730, 10: 1000}


@pytest.mark.parametrize("attempt,expected", sorted(BACKOFF_TABLE.items()))
def test_backoff_table(attempt, expected):
    assert backoff_seconds(attempt) == expected


@given(st.integers(min_value=1, max_value=1000))
def test_backoff_floor_and_monotone(attempt):
    assert backoff_seconds(attempt) >= 5
    assert backoff_seconds(attempt + 1) >= backoff_seconds(attempt)


def test_retry_loop_recovers_and_resets_counter():
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    loop = RetryLoop(fn=flaky, sleep=sleeps.append)
    assert loop.run_once() == "ok"
    assert sleeps == [0, 5, 10]  # initial attempt + 2 retries
    assert loop.attempts == 0  # counter reset on success (retry.clj:24-40)
    assert loop.run_once() == "ok"


def test_retry_loop_escalates_unrecoverable():
    loop = RetryLoop(
        fn=lambda: (_ for _ in ()).throw(ValueError("fatal")),
        recoverable=lambda e: not isinstance(e, ValueError),
        sleep=lambda s: None,
    )
    with pytest.raises(ValueError):
        loop.run_once()
    assert loop.attempts == 1


def test_retry_loop_exhausts_budget():
    n = {"count": 0}

    def always_fail():
        n["count"] += 1
        raise OSError("down")

    loop = RetryLoop(fn=always_fail, max_retries=3, sleep=lambda s: None)
    with pytest.raises(OSError):
        loop.run_once()
    assert n["count"] == 4  # initial + 3 retries

    prep_calls = {"n": 0}

    def prep():
        prep_calls["n"] += 1

    loop2 = RetryLoop(fn=always_fail, prep=prep, max_retries=2, sleep=lambda s: None)
    with pytest.raises(OSError):
        loop2.run_once()
    assert prep_calls["n"] == 2  # prep before each retry (retry.clj:93-113)


# --- Spark key column == pure-Python twin -----------------------------


def test_udf_matches_pure_python_twin(spark):
    """The engine's key column (JVM expressions over one parse) must
    agree byte-for-byte with derive_key/derive_key_from_json."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.cdc.keying import key_from_raw_json_vectorized

    samples = [
        {"id": {"b": 2, "a": "x"}, "type": "insert", "table": "t", "data": {"c": 1},
         "info": {"user": "u", "timestamp": "2024-01-01T00:00:00"}},
        {"id": {"k": True}, "type": "delete", "table": "t2", "data": {"z": "s"},
         "info": {"user": "v", "timestamp": "2024-01-02T00:00:00"}},
        {"id": {"é": -5, "A": "ü", "a": 7}, "type": "update", "table": "t3", "data": {"y": 0.5},
         "info": {"user": "w", "timestamp": "2024-01-03T00:00:00"}},
    ]
    raws = [json.dumps(d, separators=(",", ":"), ensure_ascii=False) for d in samples]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [
        r["key"]
        for r in df.select(key_from_raw_json_vectorized(F.col("raw")).alias("key")).collect()
    ]
    assert got == [derive_key_from_json(r) for r in raws]


def test_latest_per_key_matches_python_reference(spark):
    """A1 batch property: latest_per_key == python max-by on random
    (key, offset, value) sets including duplicate offsets."""
    import random

    from cdc_publisher_spark.cdc.latest_state import latest_per_key

    rng = random.Random(42)
    rows = [
        (rng.randrange(8), rng.randrange(50), f"v{rng.randrange(1000)}")
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "key int, offset int, value string")
    got = {
        r["key"]: (r["offset"], r["value"])
        for r in latest_per_key(df, "key", "offset", tiebreak_cols=["value"]).collect()
    }
    expected: dict[int, tuple[int, str]] = {}
    for k, off, v in rows:
        if k not in expected or (off, v) > expected[k]:
            expected[k] = (off, v)
    assert got == expected


def test_vectorized_udf_matches_scalar_udf(spark):
    """The engine's key column must emit byte-identical keys to the
    row-at-a-time twin, including malformed/None rows."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.cdc.keying import key_from_raw_json_vectorized

    samples = [
        '{"id":{"b":2,"a":"x"},"type":"insert","table":"t","data":{"c":1},"info":{}}',
        '{"id":{"k":true},"type":"delete","table":"t2","data":{"z":"s"},"info":{}}',
        '{"id":{"é":-5,"A":"ü"},"type":"update","table":"t3","data":{"y":0.5},"info":{}}',
        "{malformed",
        '{"id":{}}',
        None,
    ]
    df = spark.createDataFrame([(r,) for r in samples], "raw string")
    got = [
        r["vec"]
        for r in df.select(key_from_raw_json_vectorized(F.col("raw")).alias("vec")).collect()
    ]
    assert got == [derive_key_from_json(s) for s in samples]
    assert all(k is not None for k in got[:3])
    assert all(k is None for k in got[3:])


# --- the engine's key contract, edge by edge --------------------------

DEAD = "cdc-dead-letter"
_CTRL = "".join(chr(c) for c in range(0x20))

#: (raw message, expected topic, expected key); one row per contract line.
EDGE_CORPUS = [
    # unchanged bytes: strings, booleans, null, integers up to 38 digits
    ('{"table":"t","id":{"b":2,"a":"x"}}', "t", '["a","x","b",2]'),
    ('{"table":"t","id":{"s":"q\\"b\\\\s/t\\tz\\u0000d\\u007fl\\u2028"}}', "t",
     '["s","q\\"b\\\\s/t\\tz\\u0000d\x7fl "]'),
    (json.dumps({"table": "t", "id": {"s": _CTRL}}), "t", json.dumps(["s", _CTRL], separators=(",", ":"))),
    ('{"table":"t","id":{"s":"\\ud83d\\ude00","t":"😀"}}', "t", '["s","😀","t","😀"]'),
    ('{"table":"t","id":{"é":1,"a":"ü","Z":true,"ÿ":null}}', "t", '["Z",true,"a","ü","é",1,"ÿ",null]'),
    # code-point order, also past the BMP (UTF-16 order would differ)
    ('{"table":"t","id":{"😀":1,"\uffff":2}}', "t", '["\uffff",2,"😀",1]'),
    ('{"table":"t","id":{"a":-12345678901234567890123456789012345678}}', "t",
     '["a",-12345678901234567890123456789012345678]'),
    # non-integral numbers: exact, plain, trailing fractional zeros dropped
    ('{"table":"t","id":{"a":1.0,"b":-2.50,"c":0.00001,"d":-0.0}}', "t", '["a",1,"b",-2.5,"c",0.00001,"d",0]'),
    ('{"table":"t","id":{"a":12345678901234567.5}}', "t", '["a",12345678901234567.5]'),
    ('{"table":"t","id":{"a":12345678901234567.6}}', "t", '["a",12345678901234567.6]'),
    # dead letters: values the engine cannot render exactly
    ('{"table":"t","id":{"a":1e300}}', DEAD, None),
    ('{"table":"t","id":{"a":123456789012345678901234567890123456789}}', DEAD, None),
    ('{"table":"t","id":{"a":NaN}}', DEAD, None),
    ('{"table":"t","id":{"a":{"z":1,"y":2}}}', DEAD, None),
    ('{"table":"t","id":{"a":[1,2]}}', DEAD, None),
    ('{"table":"t","id":{"a":"x\\ud800y"}}', DEAD, None),
    ('{"table":"t","id":{"\\udfff":1}}', DEAD, None),
    # an unpaired surrogate outside the id does not touch the key
    ('{"table":"t","id":{"a":"x?"},"data":{"b":"\\udc00"}}', "t", '["a","x?"]'),
    # duplicate keys: the last one wins
    ('{"table":"t","id":{"a":1,"a":2}}', "t", '["a",2]'),
    # trailing content: the first object is keyed
    ('{"table":"t","id":{"a":1}} x', "t", '["a",1]'),
    # single-quoted JSON, malformed JSON, a missing or empty id
    ("{'table':'t','id':{'a':1}}", DEAD, None),
    ("{corrupt", DEAD, None),
    ('{"table":"t","noid":1}', DEAD, None),
    ('{"table":"t","id":{}}', DEAD, None),
]


def test_engine_key_edge_corpus(spark):
    """Every contract line, through the publish path and the twin."""
    from cdc_publisher_spark.streaming.pipeline import split_wire

    df = spark.createDataFrame([(raw,) for raw, _, _ in EDGE_CORPUS], "raw string")
    good, dead = split_wire(df)
    rows = good.unionByName(dead).collect()
    got = {r["value"]: (r["topic"], r["key"]) for r in rows}
    assert len(rows) == len(got) == len(EDGE_CORPUS)
    for r in rows:
        assert (r["key"] is None) == (r["topic"] == DEAD), r["value"]
    for raw, topic, key in EDGE_CORPUS:
        assert got[raw] == (topic, key), raw
        assert derive_key_from_json(raw) == key, raw


exact_id_value = st.one_of(
    scalar_id_value,
    st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1),
    st.builds(
        lambda unscaled, scale: Decimal(f"{unscaled}E-{scale}"),  # exact, unlike scaleb()
        st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1),
        st.integers(min_value=0, max_value=38),
    ),
)

exact_id_maps = st.dictionaries(st.text(min_size=1, max_size=10), exact_id_value, min_size=1, max_size=6)


def _json_value(v) -> str:
    return format(v, "f") if isinstance(v, Decimal) else json.dumps(v, ensure_ascii=False)


def test_engine_key_matches_twin_on_exact_ids(spark):
    """Hypothesis id maps (big integers and plain decimals included),
    all keyed in one Spark job, against derive_key_from_json."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.cdc.keying import key_from_raw_json_vectorized

    raws: list[str] = []

    @given(exact_id_maps)
    @settings(max_examples=300, database=None, deadline=None)
    def draw(id_map):
        body = ",".join(f"{json.dumps(k, ensure_ascii=False)}:{_json_value(v)}" for k, v in id_map.items())
        raws.append('{"table":"t","id":{' + body + "}}")

    draw()
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [r["key"] for r in df.select(key_from_raw_json_vectorized(F.col("raw")).alias("key")).collect()]
    want = [derive_key_from_json(r) for r in raws]
    assert None not in want
    assert [(r, g) for r, g, w in zip(raws, got, want) if g != w] == []
