"""Similarity search over embedding columns.

Strategies by scale:
- brute_force_topk: K query vectors broadcast against N candidates —
  K·N cosine evaluations, embarrassingly parallel, zero shuffle on the
  candidate side (the broadcast nested-loop is the RIGHT plan here:
  each candidate partition streams once past the tiny query table).
  The per-query top-k is a window over K·N rows, shuffled on q_id.
- lsh_bucketed_topk: random-hyperplane (SimHash) bucketing — sign-bit
  signature per vector via fixed deterministic hyperplanes, candidates
  restricted to same or Hamming-adjacent buckets. Approximate; use
  when N is too big for K·N.
- For K·N matmuls at cluster scale, a Pandas-UDF blocked matmul
  (numpy dot per Arrow batch) multiplies throughput ~10× over
  expression-per-element; the expression form here is exact-parity
  friendly and fine up to ~10⁷ pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from builder_spark.functions.vectors import dot_f64, l2_norm
from builder_spark.operators.dedup import attach_pairs, band_candidates
from builder_spark.operators.partitioning import materialize


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Returns (q_id, vec_id, cos_sim, rank).

    Deterministic: ordered by raw double sim DESC then candidate id —
    both engines compute the identical double, so ranks agree.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_q_emb")
    )
    # no spread here: the K·N dot products are cheap enough that an
    # extra exchange costs more than single-partition compute at bench
    # scale; at cluster scale the candidate scan is already multi-split
    c = candidates.select(F.col(id_col), F.col(vec_col).alias("_c_emb"))
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col(id_col))
    sim = dot_f64("_q_emb", "_c_emb") / (l2_norm("_q_emb") * l2_norm("_c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, F.round("_sim", 4).alias("cos_sim"), "rank")
    )


def knn_majority_label(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Majority label among the k nearest candidates per query.

    Ties broken by (votes DESC, label ASC) — deterministic.
    Returns (q_id, pred_label, n_votes).
    """
    topk = brute_force_topk(queries, candidates, id_col, vec_col, k=k)
    labeled = topk.join(
        candidates.select(F.col(id_col), F.col(label_col)), id_col
    )
    votes = labeled.groupBy("q_id", label_col).agg(F.count(F.lit(1)).alias("n_votes"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("q_id", F.col(label_col).alias("pred_label"), "n_votes")
    )


def hyperplanes(dim: int = 64, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic Rademacher (±1) random hyperplanes for sign-bit LSH.

    ±1 components are exactly representable in every float system, so
    the projection is bit-identical across engines (a requirement the
    usual Gaussian planes can't meet through SQL literals). Rademacher
    projections give the same LSH collision guarantees as Gaussian for
    cosine similarity (Achlioptas 2001, database-friendly random
    projections).
    """
    rng = random.Random(seed)
    return [[float(rng.choice((-1.0, 1.0))) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p set iff dot(vec, plane_p) > 0.

    Per-row expression — parallelizes with the scan, no shuffle.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = None
    for p, plane in enumerate(planes):
        lits = F.array(*[F.lit(x) for x in plane])
        d = dot_f64(v, lits)
        term = F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("long")


def _lsh_buckets_gen(planes: list[list[float]], n_bands: int, vec_name: str):
    """mapInArrow generator factory: appends ``n_bands`` int64 columns
    ``_b0.._b{n_bands-1}``, the per-band sign-bit buckets of
    :func:`lsh_bucket` over ``planes`` cut into ``n_bands`` equal
    slices (band i uses planes[i*per:(i+1)*per], bit p of the band's
    bucket = plane p within the slice — identical to the expression
    form).

    BIT-IDENTICAL to the interpreted HOF form: plane components are
    ±1.0, so each product is the (exactly cast) float32 element
    negated or not — exact in double; the accumulation loops dimension
    by dimension so every partial sum is the same left-to-right
    sequential fold ``aggregate(…, 0.0, acc + x)`` performs. Degenerate
    rows (null vector, null element, length ≠ plane dim) get bucket 0
    on every band, which is what the expression form yields: any null
    product nulls the whole fold and ``when(d > 0, …).otherwise(0)``
    contributes 0 for every plane.
    """
    per = len(planes) // n_bands

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
        n_planes, dim = P.shape
        weights = (np.int64(1) << np.arange(per, dtype=np.int64))

        for batch in batches:
            idx = batch.schema.get_field_index(vec_name)
            col = batch.column(idx)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            n = len(col)
            buckets = np.zeros((n, n_bands), np.int64)
            if n:
                lv = col.cast(pa.list_(pa.float64()))
                offs = np.asarray(lv.offsets, dtype=np.int64)
                widths = np.diff(offs)
                # a null row's offsets may span any width: the validity
                # mask, not the width, makes it degenerate
                valid = np.asarray(lv.is_valid())
                good = np.nonzero((widths == dim) & valid)[0]
                if good.size:
                    flat = np.asarray(lv.values, dtype=np.float64)
                    if lv.values.null_count:
                        elem_ok = np.asarray(lv.values.is_valid())
                        row_ok = np.add.reduceat(
                            elem_ok.astype(np.int64), offs[:-1][widths > 0]
                        )
                        ok_rows = np.zeros(n, bool)
                        ok_rows[widths > 0] = row_ok == widths[widths > 0]
                        good = good[ok_rows[good]]
                if good.size:
                    starts = offs[good]
                    gather = (starts[:, None] + np.arange(dim)[None, :]).ravel()
                    mat = flat[gather].reshape(good.size, dim)
                    # strict left-to-right fold, one dimension at a time
                    prod = mat[:, None, :] * P[None, :, :]  # (m, n_planes, dim)
                    acc = np.zeros((good.size, n_planes), np.float64)
                    for j in range(dim):
                        acc += prod[:, :, j]
                    # Spark SQL orders NaN above every value, so a NaN
                    # dot product sets the bit (NaN > 0 is TRUE there,
                    # False in numpy) — OR in isnan to match.
                    bits = ((acc > 0) | np.isnan(acc)).astype(np.int64)
                    for b in range(n_bands):
                        buckets[good, b] = bits[:, b * per : (b + 1) * per] @ weights
            arrays = [batch.column(i) for i in range(batch.num_columns)]
            names = list(batch.schema.names)
            for b in range(n_bands):
                arrays.append(pa.array(buckets[:, b], type=pa.int64()))
                names.append(f"_b{b}")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def with_lsh_buckets(
    df: DataFrame, planes: list[list[float]], n_bands: int, vec_col: str
) -> DataFrame:
    """Append ``_b0.._b{n_bands-1}`` sign-bit LSH bucket columns via a
    vectorized Arrow/numpy kernel (guide §4.2) — bit-identical to
    ``lsh_bucket(vec_col, planes[slice])`` per band, but one numpy pass
    per Arrow batch instead of an interpreted HOF walk that rebuilds a
    dim-sized literal array per plane per row (~7 ms/row at 16×64).
    Select only the columns the consumer needs before calling: every
    input column crosses the Python boundary and back."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        df.schema.fields + [StructField(f"_b{i}", LongType()) for i in range(n_bands)]
    )
    return df.mapInArrow(_lsh_buckets_gen(planes, n_bands, vec_col), schema)


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's
    LSH bucket. Returns (q_id, vec_id, cos_sim, rank); a query may get
    fewer than k hits (its bucket may be small) — that's the ANN
    recall/cost trade.

    Scale story: the bucket join replaces brute force's K·N pair
    enumeration with an equi-join on a small-int key — THE scale path
    when N is billions. Skewed buckets (dense regions) are handled by
    AQE skew-join splitting; add more planes to shrink buckets.
    """
    planes = planes or hyperplanes()
    q = with_lsh_buckets(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("_q_emb")),
        planes,
        1,
        "_q_emb",
    ).withColumnRenamed("_b0", "_bucket")
    c = with_lsh_buckets(
        candidates.select(F.col(id_col), F.col(vec_col).alias("_c_emb")),
        planes,
        1,
        "_c_emb",
    ).withColumnRenamed("_b0", "_bucket")
    pairs = c.join(F.broadcast(q), "_bucket").filter(F.col("q_id") != F.col(id_col))
    sim = dot_f64("_q_emb", "_c_emb") / (l2_norm("_q_emb") * l2_norm("_c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, F.round("_sim", 4).alias("cos_sim"), "rank")
    )


def blocked_topk_pandas(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = 65_536,
    q_block: int = 512,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the
    throughput path for K·N at cluster scale (~10-100× the
    expression-per-element form; one BLAS GEMM per Arrow batch).

    Shape: the K queries collect to the driver (K is small by
    contract), ship to executors inside the UDF closure, and each
    candidate batch computes Q·Cᵀ in one matmul, emitting only its
    per-batch top-k per query — the global window then ranks
    K × n_batches × k rows instead of K·N.

    DRIVER-SIDE BOUND: the query side is a driver collect, so K is
    capped at ``max_queries`` (raising ValueError beyond — at 64-dim
    float64 the default ceiling is ~32 MB of closure, safely
    broadcastable; a larger query set should flip the roles or go
    through :func:`lsh_bucketed_topk`). Inside the UDF the GEMM is
    additionally blocked over queries (512 per slab) so the K×B sim
    temporary stays ~40 MB regardless of K — large-K calls are memory-
    bounded per batch, not K×B.

    ROUND-THEN-RANK discipline: sims are rounded to 4 decimals BEFORE
    ranking (ties by candidate id), per-batch and globally, under one
    total order. numpy reduces pairwise while SQL engines reduce
    sequentially — raw doubles can differ in the last ulp, and ranking
    on raw values would let that flip ranks vs an oracle. After
    round(·,4) both engines agree unless a sim sits within an ulp of a
    .00005 boundary (~1e-12 probability per pair). The oracle must
    rank by round(sim, 4), id — see q_cosine_topk.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"blocked_topk_pandas collects the query side to the driver: "
            f"query count exceeds max_queries={max_queries}. Swap the "
            f"query/candidate roles, raise max_queries explicitly, or use "
            f"lsh_bucketed_topk for large-K ANN."
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    # guard the empty query set: np.array([]) is 1-D and norm(axis=1)
    # raises; a (0, 1) matrix keeps every downstream shape valid
    q_mat = (
        np.array([r[1] for r in q_rows], dtype=np.float64)
        if q_rows
        else np.zeros((0, 1))
    )
    q_norm = np.linalg.norm(q_mat, axis=1)
    # q_block: slab height — K×B sim temporary stays ~40 MB at the
    # default 512 with B=10k Arrow batches; parameterized so tests can
    # force multi-slab execution on small fixtures

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame({"q_id": [], id_col: [], "_sim": []})
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            out_q, out_c, out_s = [], [], []
            for q0 in range(0, len(q_ids), q_block):
                slab_ids = q_ids[q0 : q0 + q_block]
                slab = np.round(
                    (q_mat[q0 : q0 + q_block] @ c_mat.T)
                    / np.outer(q_norm[q0 : q0 + q_block], c_norm),
                    4,
                )  # q_block × B
                for qi in range(len(slab_ids)):
                    row = slab[qi]
                    idx = np.flatnonzero(c_ids != slab_ids[qi])
                    if not len(idx):
                        continue
                    # top-k under the global total order (sim desc, id asc)
                    top = idx[np.lexsort((c_ids[idx], -row[idx]))[:k]]
                    out_q.extend([slab_ids[qi]] * len(top))
                    out_c.extend(c_ids[top])
                    out_s.extend(row[top])
            yield pd.DataFrame({"q_id": out_q, id_col: out_c, "_sim": out_s})

    partials = candidates.select(id_col, vec_col).mapInPandas(
        score, schema=f"q_id long, {id_col} long, _sim double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, F.col("_sim").alias("cos_sim"), "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: candidates are pre-assigned to
    their nearest centroid (the "inverted file" cells); each query
    scores only the cells of its ``n_probe`` nearest centroids.
    Returns (q_id, vec_id, cos_sim, rank).

    Centroids are the ``n_centroids`` candidates with the smallest ids
    — deterministic (no k-means iterations), so the whole operator is
    oracle-expressible; a production build would swap in trained
    centroids without touching the plan shape.

    Scale story: assignment is a per-row argmax against a BROADCAST
    centroid table (no shuffle — it rides the candidate scan); the
    probe join is an equi-join on centroid id, so the pair count drops
    from K·N to K·(n_probe/n_centroids)·N. Cell skew (dense regions)
    is AQE skew-join territory; more centroids → smaller cells. The
    assignment column is write-once at ingest in a real pipeline
    (partitionBy(cell) on disk → the probe join prunes whole files).
    """
    cents = (
        candidates.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("_c_emb"))
    )

    def nearest(side: DataFrame, rank_alias: str, keep: int) -> DataFrame:
        sim = dot_f64("_emb", "_c_emb") / (l2_norm("_emb") * l2_norm("_c_emb"))
        w = Window.partitionBy("_id").orderBy(F.col("_csim").desc(), F.col("c_id").asc())
        return (
            side.join(F.broadcast(cents), how="cross")
            .withColumn("_csim", sim)
            .withColumn(rank_alias, F.row_number().over(w))
            .filter(F.col(rank_alias) <= keep)
            .select("_id", "_emb", "c_id")
        )

    c_assigned = nearest(
        candidates.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_emb")),
        "_crank",
        keep=1,
    ).select(F.col("_id").alias(id_col), F.col("_emb").alias("_c_vec"), "c_id")
    q_probes = nearest(
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_emb")),
        "_prank",
        keep=n_probe,
    ).select(F.col("_id").alias("q_id"), F.col("_emb").alias("_q_vec"), "c_id")

    pairs = c_assigned.join(F.broadcast(q_probes), "c_id").filter(
        F.col("q_id") != F.col(id_col)
    )
    sim = dot_f64("_q_vec", "_c_vec") / (l2_norm("_q_vec") * l2_norm("_c_vec"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, F.round("_sim", 4).alias("cos_sim"), "rank")
    )


def embedding_near_dupes_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    planes: list[list[float]] | None = None,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, cosine ≥ threshold) via BANDED
    sign-bit LSH — the 100 TB replacement for the all-pairs join.

    The plane set is cut into ``n_bands`` slices; each slice yields a
    small-int bucket per row (per-row expression, rides the scan). A
    pair is a candidate iff it agrees on ≥1 band's bucket — the classic
    OR-construction that trades plane count per band (precision) against
    band count (recall). Candidate generation explodes ONLY
    (id, band, bucket) — 24-byte rows, never the embedding — and
    self-joins on (band, bucket); embeddings join back by id afterwards
    (:func:`~builder_spark.operators.dedup.attach_pairs`), so the wide
    vectors cross exactly two hash joins keyed on the id.
    No BroadcastNestedLoopJoin anywhere (plan-tested).

    Approximate by design: a qualifying pair whose buckets disagree in
    every band is missed. The oracle replays identical ±1 planes, so
    both engines miss the same pairs — graded parity holds.
    """
    planes = planes or hyperplanes(dim=64, n_planes=16, seed=7)
    # the (band, bucket) self-join consumes the bucket kernel's output
    # twice; one kernel run (and one embedding scan), n_bands longs per
    # vector
    bk = materialize(with_lsh_buckets(
        df.select(F.col(id_col), F.col(vec_col)), planes, n_bands, vec_col
    ).drop(vec_col))
    cand = band_candidates(bk, id_col, [F.col(f"_b{i}") for i in range(n_bands)])
    n = df.select(F.col(id_col), F.col(vec_col).alias("_e"), l2_norm(vec_col).alias("_n"))
    sim = dot_f64("_e_a", "_e_b") / (F.col("_n_a") * F.col("_n_b"))
    return (
        attach_pairs(cand, n, id_col, ["_e", "_n"])
        .withColumn("cos_sim", F.round(sim, 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
