"""T3 — deterministic Kafka partition-key derivation.

Reference semantics (/root/reference/src/cdc_publisher/core.clj:13-22,
spec'd by test/cdc_publisher/core_test.clj:17-31): parse the DML JSON,
take its ``id`` map (primary-key columns), sort entries by key, flatten
to ``[k1, v1, k2, v2, ...]`` and re-serialize as a JSON array — that
array string is the Kafka message key, so all changes to one row land
in one partition (per-key total order). The message *value* is the
input string, byte-for-byte untouched.

Implementations with identical bytes:

- :func:`derive_key` / :func:`derive_key_from_json` — pure Python, the
  property-test twin and the driver-side oracle;
- :func:`key_from_raw_json_vectorized` — Spark column expression over
  the raw DML JSON (Arrow-batched pandas UDF; the publish hot path);
- :func:`key_from_id_map` — Spark column expression over an
  already-parsed ``id`` map (row UDF; a CDC query uses it).

Both column forms are Python UDFs: the mixed value types inside one
JSON array rule out built-in expressions (SURVEY.md §2.1 T3).

JSON formatting is pinned to compact separators and no key re-escaping
so both sides emit identical bytes for identical input.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def flatten_sorted_id(id_map: dict[str, Any]) -> list[Any]:
    """Sort id entries by key (codepoint order, like the reference's
    ``sort-by first`` on strings) and flatten to [k1, v1, k2, v2, ...]."""
    out: list[Any] = []
    for k in sorted(id_map):
        out.append(k)
        out.append(id_map[k])
    return out


def derive_key(id_map: dict[str, Any]) -> str:
    """JSON array string for the flattened, key-sorted id entries.

    Compact separators — the reference's serializer emits no spaces.
    ``ensure_ascii=False`` keeps unicode keys verbatim (JSON strings
    compare equal either way, but the wire bytes match the reference's
    UTF-8 output).
    """
    return json.dumps(flatten_sorted_id(id_map), separators=(",", ":"), ensure_ascii=False)


def derive_key_from_json(raw: str) -> str | None:
    """Full T3 on a raw DML JSON string; None on malformed input
    (the dead-letter path — never raises, SURVEY.md §2.1 E1)."""
    try:
        doc = json.loads(raw)
        id_map = doc["id"]
        if not isinstance(id_map, dict) or not id_map:
            return None
        return derive_key(id_map)
    except (ValueError, TypeError, KeyError):
        return None


# The UDF bodies below intentionally inline the derive-key logic
# instead of calling the module functions above: a closure defined
# inside a factory is cloudpickled BY VALUE, so the UDF runs on
# executor Python workers that do not have this package on their
# sys.path (e.g. a driver session created outside the repo). Keep the
# inline logic in lockstep with derive_key()/derive_key_from_json();
# tests/test_cdc_kernel.py asserts they agree.


def _make_map_udf():
    import json as _json

    def _key(id_map: dict[str, Any] | None) -> str | None:
        if not id_map:
            return None
        flat: list[Any] = []
        for k in sorted(id_map):
            flat.append(k)
            flat.append(id_map[k])
        return _json.dumps(flat, separators=(",", ":"), ensure_ascii=False)

    return F.udf(_key, returnType=StringType())


def _make_raw_pandas_udf():
    """Arrow-batched raw-JSON key UDF — ~one Python call per batch
    instead of per row. Used by the hot publish path
    (streaming/pipeline.py)."""
    import json as _json

    import pandas as _pd

    def _key_one(raw):
        if raw is None:
            return None
        try:
            id_map = _json.loads(raw)["id"]
            if not isinstance(id_map, dict) or not id_map:
                return None
        except (ValueError, TypeError, KeyError):
            return None
        flat = []
        for k in sorted(id_map):
            flat.append(k)
            flat.append(id_map[k])
        return _json.dumps(flat, separators=(",", ":"), ensure_ascii=False)

    def _batch(s):  # no annotations: PEP-563 strings break inference;
        # un-annotated pandas_udf defaults to the SCALAR eval type
        return _pd.Series([_key_one(v) for v in s])

    return F.pandas_udf(_batch, returnType=StringType())


_key_from_map_udf = _make_map_udf()
_key_from_raw_pandas_udf = _make_raw_pandas_udf()


def key_from_raw_json_vectorized(raw: Column) -> Column:
    """Column: T3 key via the Arrow-batched pandas UDF (hot path)."""
    return _key_from_raw_pandas_udf(raw)


def key_from_id_map(id_map: Column) -> Column:
    """Column: T3 key from an already-parsed ``map`` column."""
    return _key_from_map_udf(id_map)
