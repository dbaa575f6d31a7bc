"""T3 — deterministic Kafka partition-key derivation.

Reference semantics (/root/reference/src/cdc_publisher/core.clj:13-22,
spec'd by test/cdc_publisher/core_test.clj:17-31): parse the DML JSON,
take its ``id`` map (primary-key columns), sort entries by key, flatten
to ``[k1, v1, k2, v2, ...]`` and re-serialize as a JSON array — that
array string is the Kafka message key, so all changes to one row land
in one partition (per-key total order). The message *value* is the
input string, byte-for-byte untouched.

One implementation runs in Spark, built from JVM expressions only (no
Python worker): :func:`key_from_id_map` keys a parsed ``id`` map — the
``map<string,variant>`` that ``cdc/envelope.py`` reads out of one
``try_parse_json`` — and :func:`key_from_raw_json_vectorized` composes
the two for a raw JSON column. :func:`derive_key` /
:func:`derive_key_from_json` are its pure-Python twin, which the
property tests compare it with; the two agree byte for byte.

Each id value renders as VARIANT stores it:

- strings, booleans and null render as JSON (compact, non-ASCII kept
  verbatim, control characters escaped with lower-case hex);
- integers of up to 38 digits render as written;
- other numbers in plain notation with at most 38 digits and scale 38
  render as their exact decimal value, trailing fractional zeros
  dropped (``1.0`` -> ``1``, ``-2.50`` -> ``-2.5``).

An id the engine cannot render exactly has no key (NULL / None), which
routes the message to the dead-letter topic: an empty or missing id, a
number VARIANT stores as DOUBLE (exponent notation, or beyond 38
digits), NaN/Infinity, a nested object or array, or a string holding an
unpaired surrogate.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal
from json.decoder import WHITESPACE
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from cdc_publisher_spark.cdc.envelope import ID_MAP_TYPE, unpaired_surrogate_in_id

#: VARIANT's exact-decimal limit (DECIMAL(38, s), s <= 38).
MAX_DECIMAL_DIGITS = 38

#: Variant types whose JSON rendering is exact (VOID = JSON null).
_EXACT_TYPE = r"^(VOID|BOOLEAN|BIGINT|STRING|DECIMAL\(\d+,\d+\))$"

#: Control characters Jackson escapes with upper-case hex where
#: Python's json writes lower case (``\u000B`` vs ``\u000b``).
_UPPER_HEX_ESCAPES = ("000B", "000E", "000F", "001A", "001B", "001C", "001D", "001E", "001F")

_SURROGATE = re.compile("[\ud800-\udfff]")


class _Inexact:
    """A JSON number VARIANT would store as DOUBLE: no exact key."""


_INEXACT = _Inexact()


def _parse_float(text: str) -> Decimal | _Inexact:
    """JSON number text with a fraction or exponent, as VARIANT stores
    it: an exact decimal in plain notation within DECIMAL(38, 38)."""
    if "e" in text or "E" in text:
        return _INEXACT
    d = Decimal(text)
    _, digits, exponent = d.as_tuple()
    if len(digits) > MAX_DECIMAL_DIGITS or -exponent > MAX_DECIMAL_DIGITS:
        return _INEXACT
    return d


def _reject_constant(name: str) -> None:
    raise ValueError(f"{name} has no exact key")


_DECODER = json.JSONDecoder(parse_float=_parse_float, parse_constant=_reject_constant)


def _render(value: Any) -> str | None:
    """One id key or value as JSON, or None when it has no exact form."""
    if value is None or isinstance(value, bool):
        return json.dumps(value)
    if isinstance(value, str):
        return None if _SURROGATE.search(value) else json.dumps(value, ensure_ascii=False)
    if isinstance(value, int):
        return str(value) if len(str(abs(value))) <= MAX_DECIMAL_DIGITS else None
    if isinstance(value, float):  # as json.dumps would write it
        value = _parse_float(repr(value)) if math.isfinite(value) else _INEXACT
    if isinstance(value, Decimal):
        text = format(value, "f")
        if "." in text:
            text = text.rstrip("0").rstrip(".")
        return "0" if text == "-0" else text
    return None


def flatten_sorted_id(id_map: dict[str, Any]) -> list[Any]:
    """Sort id entries by key (codepoint order, like the reference's
    ``sort-by first`` on strings) and flatten to [k1, v1, k2, v2, ...]."""
    out: list[Any] = []
    for k in sorted(id_map):
        out.append(k)
        out.append(id_map[k])
    return out


def derive_key(id_map: dict[str, Any]) -> str | None:
    """JSON array string for the flattened, key-sorted id entries, or
    None when the map is empty or a key/value has no exact rendering.

    Compact separators — the reference's serializer emits no spaces —
    and non-ASCII kept verbatim, matching the reference's UTF-8 output.
    """
    parts = [_render(x) for x in flatten_sorted_id(id_map)]
    if not parts or None in parts:
        return None
    return "[" + ",".join(parts) + "]"


def derive_key_from_json(raw: str | None) -> str | None:
    """Full T3 on a raw DML JSON string; None on malformed input
    (the dead-letter path — never raises, SURVEY.md §2.1 E1).

    Parses like the engine: the first JSON value is read and trailing
    content ignored (as Jackson does), duplicate keys keep the last.
    """
    try:
        doc, _ = _DECODER.raw_decode(raw, WHITESPACE.match(raw).end())
        id_map = doc["id"]
    except (ValueError, TypeError, KeyError):
        return None
    return derive_key(id_map) if isinstance(id_map, dict) else None


def _lower_hex_escapes(key: Column) -> Column:
    """Rewrite Jackson's upper-case control-character escapes in lower
    case. Only an escape preceded by an even run of backslashes is one;
    the rewrite runs only on keys holding a ``\\u00`` at all."""
    fixed = key
    for code in _UPPER_HEX_ESCAPES:
        fixed = F.regexp_replace(fixed, r"(?<!\\)((?:\\\\)*)\\u" + code, r"$1\\u" + code.lower())
    return F.when(key.contains("\\u00"), fixed).otherwise(key)


def key_from_id_map(id_map: Column, raw: Column | None = None) -> Column:
    """Column: T3 key from a ``map<string, T>`` column (T = variant for
    parsed messages; any type that casts to variant works). NULL when
    the map is NULL or empty or a value has no exact rendering, and,
    given the ``raw`` message the map was parsed from, when its id holds
    an unpaired surrogate escape.

    ``id_map`` is referenced once, so a caller may pass an expression."""
    entries = F.array_sort(
        F.map_entries(id_map),
        lambda a, b: F.when(a["key"] < b["key"], -1).when(a["key"] > b["key"], 1).otherwise(0),
    )

    def pair(e: Column) -> Column:
        value = e["value"].cast("variant")
        # a SQL NULL value renders null, like a JSON null (VOID)
        exact = F.coalesce(F.schema_of_variant(value), F.lit("VOID")).rlike(_EXACT_TYPE)
        return F.when(exact, F.array(e["key"].cast("variant"), value))

    def finish(k: Column) -> Column:
        keyed = k != "[]"
        if raw is not None:
            keyed = keyed & ~(k.contains("?") & unpaired_surrogate_in_id(raw))
        return F.when(keyed, _lower_hex_escapes(k))

    # flatten() is NULL when any pair is: one inexact value unkeys the map.
    # The one-element transform evaluates the rendering once, however
    # often finish() reads it.
    rendered = F.to_json(F.flatten(F.transform(entries, pair)))
    return F.transform(F.array(rendered), finish)[0]


def key_from_raw_json_vectorized(raw: Column) -> Column:
    """Column: T3 key straight from a raw DML JSON column, one parse per
    row. The pipeline instead reads ``id`` once in
    ``cdc.envelope.with_envelope`` and shares that parse with ``table``."""
    return key_from_id_map(F.try_variant_get(F.try_parse_json(raw), "$.id", ID_MAP_TYPE), raw)
