"""The CDC kernel — the reference's actual semantics, re-expressed.

keying.py        T3 deterministic Kafka key from the sorted id map
                 (core.clj:13-22): JVM expressions + a pure-Python twin
envelope.py      T1/T2 one try_parse_json per message -> table, id map
latest_state.py  A1 latest-value-per-key, batch + streaming
backoff.py       R1 cubic retry backoff (retry.clj:11-17)
"""
