"""Round-16 optimization pins.

- minhash one-shingle-pass verify: q_k3's plan must contain exactly
  ONE documents scan under the shingle subtrees (exchange reuse), with
  output already pinned by the oracle sweep.
"""

from __future__ import annotations

from cdc_publisher_spark.tables import load


def test_minhash_near_duplicates_shingles_once(spark, sf_smoke, monkeypatch):
    """The signature aggregation and the exact verify share ONE
    shingle_rows frame (r16): the pre-r16 shape shingled twice (full
    corpus for signing + a semi-pruned re-shingle for the verify — two
    DIFFERENT subtrees AQE stage reuse cannot collapse). Pin the
    structural sharing at the operator level: building the near-dup
    frame must invoke shingle_rows exactly once. Output equality vs
    DuckDB is pinned by the oracle sweep (q_k3/q_k116/q_k127)."""
    from cdc_publisher_spark.operators import minhash as MH

    calls = []
    real = MH.shingle_rows

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(MH, "shingle_rows", counting)
    docs = load(spark, sf_smoke, "documents")
    out = MH.minhash_near_duplicates(docs, threshold=0.5)
    assert len(calls) == 1, f"shingle_rows called {len(calls)}x (want 1)"
    assert out.columns == ["d1", "d2", "jaccard"]


def test_incremental_derived_index_shingles_once(spark, sf_smoke, monkeypatch):
    """Same sharing pin for incremental_near_duplicates' derived-index
    form (q_k79): one shingle pass feeds sign + verify."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.operators import minhash as MH

    calls = []
    real = MH.shingle_rows

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(MH, "shingle_rows", counting)
    docs = load(spark, sf_smoke, "documents")
    new_ids = docs.select("doc_id").filter(F.col("doc_id") >= 450)
    MH.incremental_near_duplicates(docs, new_ids)
    assert len(calls) == 1, f"shingle_rows called {len(calls)}x (want 1)"
