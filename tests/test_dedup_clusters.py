"""Connected components of ``dedup_clusters`` on both of its paths.

Graphs with at most ``CLUSTER_DRIVER_MAX_EDGES`` edges are solved by a
numpy union-find on the driver; larger ones by min-label propagation in
Spark. The tests force the Spark loop by setting that same module
constant to -1 (no graph, not even an empty one, fits under it), and
check that both paths give the same labels as a plain Python union-find,
at the edges too (empty input, null ids, a chain longer than the old
15-round cap).

Also the lifetime of the checkpoints behind the Spark loop: every
checkpoint in the package goes through ``partitioning.materialize``,
and ``dedup_clusters`` releases each superseded round, so only the
returned labels stay pinned.
"""

from __future__ import annotations

import ast
import random
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from builder_spark.operators import dedup
from builder_spark.operators.dedup import _union_find, dedup_clusters
from builder_spark.operators.partitioning import materialize, release

ROOT = Path(__file__).resolve().parent.parent
PATHS = ("driver", "distributed")


def _clusters(spark, monkeypatch, path, rows, schema="id_a long, id_b long"):
    if path == "distributed":
        monkeypatch.setattr(dedup, "CLUSTER_DRIVER_MAX_EDGES", -1)
    out = dedup_clusters(spark.createDataFrame(rows, schema))
    monkeypatch.undo()
    return out


def _labels(df) -> set[tuple]:
    return {(r.doc_id, r.cluster_id) for r in df.collect()}


def _reference(edges) -> set[tuple]:
    """Plain union-find: each node labelled with its component's minimum."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """Sparse pairs over scattered ids (negative ones too), with repeated
    and reversed edges, so components, id order and edge order are all
    unrelated."""
    rng = random.Random(seed)
    ids = rng.sample(range(-10**6, 10**6), 60)
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(45)]


def test_clusters_converge_to_min_label(spark, monkeypatch):
    pairs = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (2, 7)]
    for path in PATHS:
        assert _labels(_clusters(spark, monkeypatch, path, pairs)) == {
            (1, 1), (2, 1), (3, 1), (7, 1),
            (5, 5), (6, 5),
            (8, 8), (9, 8), (10, 8),
        }, path


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_paths_agree_with_union_find_reference(spark, monkeypatch, seed):
    pairs = _random_graph(seed)
    want = _reference(pairs)
    for path in PATHS:
        assert _labels(_clusters(spark, monkeypatch, path, pairs)) == want, path


def test_union_find_kernel_matches_reference():
    rng = np.random.default_rng(7)
    u = rng.integers(0, 30_000, 20_000)
    v = rng.integers(0, 30_000, 20_000)
    ids, labels = _union_find(u, v)
    assert set(zip(ids.tolist(), labels.tolist())) == _reference(zip(u.tolist(), v.tolist()))


def test_long_chain_is_one_cluster(spark, monkeypatch):
    """A 41-node chain needs 40 propagation rounds: the loop runs until
    no label changes (a 15-round cap used to return 26 clusters)."""
    chain = [(i, i + 1) for i in range(40)]
    for path in PATHS:
        assert _labels(_clusters(spark, monkeypatch, path, chain)) == {
            (i, 0) for i in range(41)
        }, path


@pytest.mark.parametrize("ids", ["bigint", "int", "string"])
def test_empty_pairs_keep_the_id_type(spark, monkeypatch, ids):
    for path in PATHS:
        out = _clusters(spark, monkeypatch, path, [], f"id_a {ids}, id_b {ids}")
        assert out.schema.simpleString() == f"struct<doc_id:{ids},cluster_id:{ids}>", path
        assert out.collect() == [], path


def test_pairs_with_a_null_id_are_not_edges(spark, monkeypatch):
    """A null id is not a document: its pair is dropped before clustering
    on both paths (the propagation loop used to label the null node 5)."""
    for path in PATHS:
        got = _labels(_clusters(spark, monkeypatch, path, [(None, 5), (5, 6)]))
        assert got == {(5, 5), (6, 5)}, path


def test_driver_path_labels_are_at_most_parallelism_partitions(spark):
    """The driver path's labels come back through ``createDataFrame``.
    Above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB,
    about 3M nodes) that makes one partition per Arrow batch of 10,000
    rows, so the 4M-edge bound would return hundreds of partitions. The
    threshold is lowered here so a graph of 100k nodes (more than
    ``defaultParallelism`` batches) takes that branch: it must still
    return at most ``defaultParallelism`` partitions, every label
    intact."""
    par = spark.sparkContext.defaultParallelism
    n = max(100_000, 10_000 * (par + 1))
    pairs = spark.range(0, n, 2).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1MB")
    try:
        out = dedup_clusters(pairs)
    finally:
        spark.conf.set(key, old)
    assert out.rdd.getNumPartitions() <= par
    got = out.select(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("cluster_id") != F.col("doc_id") - F.col("doc_id") % 2).cast("int")).alias("bad"),
    ).first()
    assert (got.n, got.bad) == (n, 0)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_clusters_pin_only_the_returned_labels(spark, monkeypatch):
    """A chain of 8 nodes plus one pair takes 7 propagation rounds
    (6 to converge, 1 to see no change) after the initial labels; each
    round materializes new labels, and every superseded one (and the
    edge table) is released: exactly one new persistent RDD outlives the
    call, and the returned frame still reads it. The driver path pins
    nothing."""
    chain = [(i, i + 1) for i in range(7)] + [(20, 21)]
    want = {(i, 0) for i in range(8)} | {(20, 20), (21, 20)}
    for path, pinned in zip(PATHS, (0, 1)):
        before = _persistent_ids(spark)
        out = _clusters(spark, monkeypatch, path, chain)
        assert len(_persistent_ids(spark) - before) == pinned, path
        assert _labels(out) == want, path


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
