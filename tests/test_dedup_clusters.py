"""Plan shape and parity of the r16 dedup_clusters propagation round.

localCheckpoint discards partitioning info, so the r15 shape
re-shuffled the EDGE table every label-propagation round. r16
broadcasts the node-grain label table instead: the edge table is
scanned straight from its checkpoint (zero exchanges on that side) and
the only per-round shuffle is the label aggregate, compressed to node
grain by map-side partials. Both paths must produce identical labels;
the broadcast path must actually plan as a BroadcastHashJoin with no
shuffle exchange below the edge scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from builder_spark.operators.dedup import _propagation_round, dedup_clusters
from builder_spark.plans import formatted_plan


def _bi(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (2, 7)], "id_a long, id_b long"
    )
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    bi = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # one self-loop per node, as dedup_clusters builds it
    loops = bi.select("u").distinct().select("u", F.col("u").alias("v"))
    return bi.union(loops).localCheckpoint(eager=True)


def test_round_broadcasts_labels_and_never_shuffles_edges(spark):
    bi = _bi(spark)
    labels = (
        bi.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    plan = formatted_plan(_propagation_round(bi, labels, broadcastable=True))
    assert "BroadcastHashJoin" in plan
    # the edge side must reach the join bare: its only Exchange is the
    # label aggregate's (and the broadcast build) — a hashpartitioning
    # exchange keyed on v would mean the edge table is shuffled again
    assert "hashpartitioning(v#" not in plan


def test_round_paths_agree(spark):
    bi = _bi(spark)
    labels = (
        bi.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    a = {tuple(r) for r in _propagation_round(bi, labels, True).collect()}
    b = {tuple(r) for r in _propagation_round(bi, labels, False).collect()}
    assert a == b


def test_clusters_converge_to_min_label(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (2, 7)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (7, 1),
        (5, 5), (6, 5),
        (8, 8), (9, 8), (10, 8),
    }
