"""T1/T2 — the DML JSON envelope, read from one parse.

The reference parses each Oracle AQ payload with string keys
(core.clj:17) and routes JsonParseException to a malformed-message hook
(jms_publisher.clj:160-164) — parse failures must never kill the
stream. Here each message is parsed once, by ``try_parse_json`` into a
VARIANT (NULL on malformed JSON, never an exception); the envelope
fields are read out of that one value with ``try_variant_get``:

- ``table`` — the topic route (string);
- ``id`` — the primary-key map as ``map<string,variant>``, NULL when the
  id is missing or not an object. Values keep their JSON types, so
  ``cdc/keying.py`` renders the key from them without a second parse.

The parser replaces an unpaired surrogate escape with ``?``;
:func:`unpaired_surrogate_in_id` tells such an id from one that holds a
real ``?``.

The raw payload itself is never rewritten: the publish value must be
byte-identical to the input (core_test.clj:26-31). Duplicate keys keep
the last value (``spark.sql.variant.allowDuplicateKeys``, pinned in
``session.RUNTIME_CONFS``), and content after the first JSON value is
ignored — both as Jackson, the reference's parser, does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_publisher_spark.session import ensure_runtime_confs

#: ``id`` as parsed: string keys, values still typed JSON.
ID_MAP_TYPE = "map<string,variant>"

# An escape ``\uD800``-``\uDFFF`` preceded by an even run of backslashes
# (an odd run would make it literal text).
_ESCAPE = r"(?<!\\)((?:\\\\)*)\\u"
_SURROGATE_PAIR = _ESCAPE + r"D[89AB][0-9A-F]{2}\\uD[C-F][0-9A-F]{2}"
_SURROGATE = _ESCAPE + r"D[89A-F][0-9A-F]{2}"


def unpaired_surrogate_in_id(raw: Column) -> Column:
    """The raw ``id`` object holds an unpaired surrogate escape.

    The parser replaces an unpaired surrogate with ``?``, so the parsed
    id reads a different string than the message holds; callers check
    only ids whose rendering holds a ``?``. ``get_json_object``
    re-renders the id with every surrogate escaped in upper-case hex;
    what is left after dropping the valid pairs must hold no surrogate.
    A row it cannot read counts as holding one.
    """
    id_text = F.get_json_object(raw, "$.id")
    unpaired = F.regexp_replace(id_text, _SURROGATE_PAIR, "$1").rlike(_SURROGATE)
    return F.coalesce(unpaired, F.lit(True))


def with_envelope(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Attach ``table`` (string) and ``id`` (``map<string,variant>``)
    read from one ``try_parse_json`` of ``raw_col``; both are NULL on a
    malformed message.

    The parse gets its own projection and both fields read that column,
    so the optimizer cannot inline the parse into each reader.
    """
    ensure_runtime_confs(df.sparkSession)  # duplicate keys: last wins
    parsed = df.withColumn("_dml", F.try_parse_json(F.col(raw_col)))
    return parsed.withColumns(
        {
            "table": F.try_variant_get(F.col("_dml"), "$.table", "string"),
            "id": F.try_variant_get(F.col("_dml"), "$.id", ID_MAP_TYPE),
        }
    ).drop("_dml")
