"""Structured-streaming layer.

pipeline.py            the reference's data plane: one projection over
                       one scan, DML raw -> parse once -> key -> wire
                       record (table or dead-letter topic) -> sink (§3.3)
latest_state_stream.py A1 streaming latest-per-key (stateful)
routes.py              D1 dynamic fan-out control loop (driver-side)
metrics.py             M1 observability (observe + query listener)
incremental_dedup.py   K-79 streaming near-dup over an unbounded
                       corpus (batch-addressed prunable state)
hll_monitor.py         K-84 streaming twin: incremental HLL distinct-
                       cardinality registers (idempotent max-merge)
"""
