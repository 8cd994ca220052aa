"""Pair semantics of the shared banded-LSH join
(`operators/dedup.py::band_candidates`) on a hand-built frame.

Every near-duplicate operator takes its candidates from this join, but
the graded queries that use it check row counts or the verified output,
not the candidate pairs themselves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from builder_spark.operators.dedup import band_candidates


def _frame(spark):
    # id, bucket in band 0, bucket in band 1
    rows = [
        (1, 10, 20),  # agrees with 2 in both bands
        (2, 10, 20),
        (3, 10, 21),  # agrees with 1 and 2 in band 0 only
        (4, 11, 21),  # agrees with 3 in band 1 only
        (5, 12, 22),  # agrees with nobody
        (6, 13, 20),  # agrees with 1 and 2 in band 1 only
    ]
    return spark.createDataFrame(rows, "id long, b0 long, b1 long")


def test_band_candidates_pairs(spark):
    df = band_candidates(_frame(spark), "id", [F.col("b0"), F.col("b1")])
    assert df.columns == ["id_a", "id_b"]
    got = [(r.id_a, r.id_b) for r in df.collect()]
    # each pair once, smaller id first — (1, 2) agrees in both bands
    assert len(got) == len(set(got))
    assert all(a < b for a, b in got)
    assert sorted(got) == [(1, 2), (1, 3), (1, 6), (2, 3), (2, 6), (3, 4)]
