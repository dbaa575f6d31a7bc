"""Pins for the round-13 ADVICE fixes and the r13 VERDICT ask #7:

1. q_k120 degenerate-corpus guard — a label whose probes are ALL
   exact-duplicate vectors (SUM(ok)=0) must yield id_estimate NULL in
   BOTH engines (Spark 0/0 was already NULL; DuckDB IEEE division gave
   NaN before the CASE guard).
2. minhash.estimated_jaccard size guard — the exported all-pairs
   diagnostic refuses corpus-sized inputs instead of planning an
   O(n²) crossJoin.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from cdc_publisher_spark.queries.llm_audit import q_k120_intrinsic_dimension
from cdc_publisher_spark.registry import all_specs


def _write_vecs(spark, d, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    path = os.path.join(str(d), "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return str(d), path


def _degenerate_corpus():
    """Label 0 = five copies of ONE vector (every probe degenerate:
    d1 = 0 → ok = 0, lt = 0). Label 1 = a genuine spread so the query
    still emits a finite estimate somewhere."""
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base, 0) for i in range(1, 6)]
    rows += [
        (10, [1.0, 0.0, 0.0, 0.0], 1),
        (11, [0.0, 1.0, 0.0, 0.0], 1),
        (12, [0.0, 0.0, 1.0, 0.0], 1),
        (13, [1.0, 1.0, 0.0, 0.0], 1),
    ]
    return rows


def test_k120_all_degenerate_label_is_null_spark(spark, tmp_path):
    d, _ = _write_vecs(spark, tmp_path, _degenerate_corpus())
    out = {r.label: r for r in q_k120_intrinsic_dimension(spark, d).collect()}
    assert out[0].n_used == 0
    assert out[0].id_estimate is None          # 0/0 pinned to NULL
    assert out[1].id_estimate is not None
    assert out[1].id_estimate > 0


def test_k120_all_degenerate_label_is_null_duckdb(spark, tmp_path):
    """The oracle side of the same guard: before the CASE, DuckDB's
    IEEE double division returned NaN for 0/0 and the engines
    disagreed on this corpus."""
    _, path = _write_vecs(spark, tmp_path, _degenerate_corpus())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    sql = all_specs()["q_k120_intrinsic_dimension"].oracle
    got = {r[0]: r for r in con.execute(sql).fetchall()}
    assert got[0][2] == 0                      # n_used
    assert got[0][3] is None, got[0]           # NULL, not NaN
    assert got[1][3] is not None and not math.isnan(got[1][3])
    assert got[1][3] > 0


def test_estimated_jaccard_size_guard(spark):
    from cdc_publisher_spark.operators.minhash import estimated_jaccard

    sig = spark.createDataFrame(
        [(1, 7, 7), (2, 7, 8), (3, 9, 9)], "doc_id long, h0 long, h1 long"
    )
    out = estimated_jaccard(sig, n_hashes=2).collect()
    assert len(out) == 3                         # 3 pairs, under the bound
    with pytest.raises(ValueError, match="small-data diagnostic"):
        estimated_jaccard(sig, n_hashes=2, max_signatures=2)
    # explicit opt-up still works
    assert len(estimated_jaccard(sig, n_hashes=2, max_signatures=3).collect()) == 3
