"""Structured-streaming layer.

pipeline.py            the reference's data plane: one projection over
                       one scan, DML raw -> parse once -> key -> wire
                       record (table or dead-letter topic) -> sink (§3.3)
latest_state_stream.py A1 streaming latest-per-key (stateful)
routes.py              D1 dynamic fan-out control loop (driver-side)
metrics.py             M1 observability (observe + query listener)
monitor.py             E1 rate-limited malformed-message signal
state.py               batch-addressed external state shared by the
                       nine consumers below: layouts, reads,
                       compaction mechanism, vacuum, stream start
maintenance.py         the one compaction scheduler (`maintain` CLI):
                       folds every state dir under a root to its
                       committed watermark
incremental_dedup.py   K-79 streaming near-dup over an unbounded
                       corpus (batch-addressed prunable state)
hll_monitor.py         K-84 streaming twin: incremental HLL distinct-
                       cardinality registers (idempotent max-merge)
cm_monitor.py          count-min heavy hitters (q_k57 twin, sum-merge)
exposure_monitor.py    rare-gram exposure (q_k88 twin, sum-merge)
drift_monitor.py       label-centroid drift (q_k89 twin, DECIMAL sum)
vocab_monitor.py       first-seen vocabulary (q_k90 twin, min-merge)
ctx_monitor.py         context-length economics (q_k99 twin, sum)
audio_monitor.py       exact audio-duplicate guard (row state)
embed_monitor.py       incremental embedding near-dup (row state)
monitor_suite.py       all nine consumers behind one foreachBatch
"""
