"""Plan shape and parity of the r16 dedup_clusters propagation round.

localCheckpoint discards partitioning info, so the r15 shape
re-shuffled the EDGE table every label-propagation round. r16
broadcasts the node-grain label table instead: the edge table is
scanned straight from its checkpoint (zero exchanges on that side) and
the only per-round shuffle is the label aggregate, compressed to node
grain by map-side partials. Both paths must produce identical labels;
the broadcast path must actually plan as a BroadcastHashJoin with no
shuffle exchange below the edge scan.

Also the lifetime of the checkpoints behind it: every checkpoint in the
package goes through ``partitioning.materialize``, and ``dedup_clusters``
releases each superseded round, so only the returned labels stay
pinned.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

from pyspark.sql import functions as F

from builder_spark.operators.dedup import _propagation_round, dedup_clusters
from builder_spark.operators.partitioning import materialize, release
from builder_spark.plans import formatted_plan

ROOT = Path(__file__).resolve().parent.parent


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


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_clusters_pin_only_the_returned_labels(spark):
    """A chain of 8 nodes plus one pair takes 8 propagation rounds
    (7 to converge, 1 to see no change); each round materializes new
    labels, and every superseded one (and the edge table) is released:
    exactly one new persistent RDD outlives the call, and the returned
    frame still reads it."""
    chain = [(i, i + 1) for i in range(7)] + [(20, 21)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    before = _persistent_ids(spark)
    out = dedup_clusters(pairs)
    assert len(_persistent_ids(spark) - before) == 1
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {(i, 0) for i in range(8)} | {(20, 20), (21, 20)}


def test_release_is_a_noop_when_checkpoints_are_disabled(spark):
    """Under the plan audit's identity-patched checkpoints,
    ``materialize`` returns the full plan and ``release`` leaves it
    (and the session's persistent RDDs) alone."""
    sys.path.insert(0, str(ROOT / "tools"))
    from window_audit import checkpoints_disabled

    df = spark.range(3)
    before = _persistent_ids(spark)
    with checkpoints_disabled():
        m = materialize(df)
        assert m is df
        release(m)
    assert _persistent_ids(spark) == before
    assert sorted(r.id for r in m.collect()) == [0, 1, 2]


def test_materialize_is_the_only_checkpoint_call():
    """The checkpoint policy lives in one place: no ``localCheckpoint``
    or ``checkpoint`` call anywhere under builder_spark/ except the body
    of ``partitioning.materialize`` (comments and docstrings do not
    count — the scan walks the AST)."""
    offenders = []
    for path in sorted((ROOT / "builder_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed: set[int] = set()
        if path.name == "partitioning.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []
