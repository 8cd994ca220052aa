"""Partitioning utilities: parallelism repair and skew handling.

Two distinct scale problems live here:

1. **Under-partitioned inputs** (``spread``): a parquet scan yields one
   partition per row-group byte-range, so a small file — or a huge one
   with one row group — serializes every downstream per-row computation
   onto one core. Compute-heavy operators (hashing, shingling, vector
   math, Pandas UDFs) call ``spread`` first: it repartitions UP to the
   cluster's parallelism only when the input has fewer partitions, and
   is a no-op on well-partitioned data (a 100 TB scan with thousands of
   splits is never reshuffled by this).

2. **Skewed keys** (``with_salt`` / ``replicate_for_salted_join``): a
   hot key sends its whole group to one reducer. Salting splits each
   key into ``n`` subkeys: aggregations become two-phase (partial per
   salted key, final per key — both map-side combinable), joins
   replicate the small side once per salt bucket. AQE's skew-join
   splitting handles sort-merge joins automatically; salting is for
   aggregations and for joins AQE can't split (e.g. bucketed tables).

It also holds the package's one checkpoint policy (``materialize`` /
``release``): every operator and query that hands one intermediate to
several consumers, or loops over one, stores it through these two.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, key: str, *keys: str) -> DataFrame:
    """Hash-partition on ``key`` (and ``keys``) UP to the cluster's
    parallelism when the input is under-partitioned; no-op otherwise.
    A downstream groupBy/join on the same keys then reuses the exchange
    instead of adding one."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(k) for k in (key, *keys)])


def with_salt(df: DataFrame, n: int, col_name: str = "_salt") -> DataFrame:
    """Add a salt in [0, n) that splits rows of the SAME key across
    reducers. Row-position based (deterministic per partition layout,
    uniform) — not key-based, which would defeat the purpose."""
    return df.withColumn(col_name, F.pmod(F.monotonically_increasing_id(), F.lit(n)))


def salted_sum_count(
    df: DataFrame, group_cols: list[str], value_col: str, n: int = 16
) -> DataFrame:
    """Two-phase salted aggregation for sum/count under key skew:
    phase 1 aggregates (key, salt) — the hot key spreads over n
    reducers — phase 2 merges the n partials per key. Returns
    (group_cols..., sum_<value>, count_<value>).

    Note: plain groupBy already does map-side partial aggregation; use
    this only when the DISTINCT (key, ...) cardinality per partition is
    so low that partials can't compress the hot key — the classic
    "one key is 30% of the data" shape.
    """
    salted = with_salt(df, n)
    phase1 = salted.groupBy(*group_cols, "_salt").agg(
        F.sum(value_col).alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    return phase1.groupBy(*group_cols).agg(
        F.sum("_s").alias(f"sum_{value_col}"), F.sum("_c").alias(f"count_{value_col}")
    )


def replicate_for_salted_join(small: DataFrame, n: int, col_name: str = "_salt") -> DataFrame:
    """Explode the SMALL side of a skewed join once per salt bucket.
    Join condition becomes (key, _salt) vs the salted big side — the
    hot key's rows land on n reducers instead of one. Small side grows
    n×, which is fine exactly when it was small enough to consider
    broadcasting anyway."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    return small.withColumn(col_name, salts)


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return a frame that reads the stored rows.

    This is the only checkpoint call in the package; the trade-off is:

    - the input runs ONCE and its lineage is cut, so every consumer
      (and every round of a driver loop) plans a constant-size query
      over the stored rows instead of re-running the input;
    - partitioning is discarded: a join or aggregate downstream
      shuffles the rows again, even on the key they were hashed by;
    - the blocks live in executor storage (``localCheckpoint``), so an
      executor loss loses them and the next action on the frame fails.
      On a real cluster the fix is to switch this one line to a
      reliable ``checkpoint`` with ``SparkContext.setCheckpointDir``;
    - ``mapInArrow`` kernel outputs with more than one consumer need
      it: ReusedExchange never fires above a MapInArrow node (the
      embedded Python function defeats canonical subtree equality), so
      a repartition boundary re-runs the kernel once per consumer.

    The blocks stay pinned until :func:`release`.
    """
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop the stored blocks behind a :func:`materialize` result, for
    state a long-lived session no longer needs (superseded rounds of a
    driver loop). Any later action on ``df``, or on a frame built from
    it, fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

    No-op when ``df`` is not a checkpoint scan — e.g. under
    ``tools/window_audit.checkpoints_disabled()``, where checkpointing
    is the identity and ``df`` is still the full plan."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _simple_order(c: str | Column) -> tuple[str, bool] | None:
    """(column name, is_ascending) when the order expression is a bare
    column with default null ordering — the only shape
    ``stitched_running`` accepts. None for anything else (complex
    expressions, custom NULLS placement)."""
    import re

    if isinstance(c, str):
        return c, True
    try:
        s = c._jc.toString()
    except Exception:  # noqa: BLE001 - unrenderable: not a bare column
        return None
    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)", s)
    if m:
        return m.group(1), True
    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*) ASC NULLS FIRST", s)
    if m:
        return m.group(1), True
    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*) DESC NULLS LAST", s)
    if m:
        return m.group(1), False
    return None


def _numeric_encoding_sql(df: DataFrame, col: str) -> str | None:
    """SQL rendering of an ORDER-PRESERVING numeric encoding of a bare
    column, which the stitch's boundaries and pid are taken over. None
    when no such encoding exists (strings, nested types)."""
    dt = dict(df.dtypes).get(col, "")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith(
        "decimal"
    ):
        return f"`{col}`"
    if dt == "date":
        return f"unix_date(`{col}`)"
    if dt == "timestamp":
        return f"unix_micros(`{col}`)"
    if dt == "timestamp_ntz":
        # cast is per-row tz-consistent: ordering preserved
        return f"unix_micros(cast(`{col}` as timestamp))"
    if dt == "boolean":
        return f"cast(`{col}` as int)"
    return None


#: (plan semantic hash, encoded column, parallelism) → boundaries. SAFE
#: to cache indefinitely: boundaries only place the partition cuts — the
#: stitch's offsets make the RESULT independent of where they fall, so a
#: stale entry (same plan, changed underlying files) can only unbalance
#: partitions, never corrupt values. Bounded. It stays because repeated
#: constructions of one query (warm benches, interactive sessions) skip
#: the approxQuantile action: rebuilding the 78 stitched registry
#: queries at sf0.01 on a 4-core host with a warm memo instead of a
#: cleared one saved a median of 0.17 s per construction (best of two
#: each; e.g. ``q_weighted_median`` 0.30 → 0.11 s).
_BOUNDARY_MEMO: dict[tuple[int, str, int], list] = {}


def _memo_boundaries(df: DataFrame, enc: str) -> list:
    """:func:`range_boundaries` over the SQL expression ``enc`` of
    ``df``, memoized in-process by the plan's semantic hash and the
    session's parallelism, which fixes the cut count (see
    :data:`_BOUNDARY_MEMO` for why a stale entry is safe)."""

    def compute() -> list:
        return range_boundaries(df.select(F.expr(enc).alias("_enc")), "_enc")[0]

    try:
        key = (df.semanticHash(), enc, df.sparkSession.sparkContext.defaultParallelism)
    except Exception:  # noqa: BLE001 - hashing is an optimization only
        return compute()
    if key not in _BOUNDARY_MEMO:
        if len(_BOUNDARY_MEMO) >= 256:
            _BOUNDARY_MEMO.clear()
        _BOUNDARY_MEMO[key] = compute()
    return _BOUNDARY_MEMO[key]


def _pid_case_sql(enc_sql: str, cuts: list, asc: bool) -> Column:
    """pid = count of boundaries passed by the (encoded) first order
    column, evaluated as a BINARY-SEARCH nested CASE: each row pays
    ``ceil(log2(k))`` comparisons instead of the k of a linear
    count-the-cuts chain — at cluster scale k is 4× the partition
    count (thousands), so the linear form would burn thousands of
    branch evaluations per row on the scan. Built as ONE parsed SQL
    expression (k py4j calls cost ~0.6 s of construction at k=127; an
    array-filter lambda costs ~5× per ROW with no straight-line
    codegen). Monotonicity survives the double-typed literals:
    int→double is order-preserving (ties allowed), so equal keys share
    a pid and pid is non-decreasing in the sort order — all the stitch
    requires.

    ASC: pid = bisect_right(cuts, v); a NULL comparison is false in
    CASE WHEN, so NULLs take every ELSE branch and land on pid 0 —
    exactly where ASC NULLS FIRST sorts them. DESC: pid =
    len(cuts) - bisect_left(cuts, v); NULLs again fall through every
    ELSE to pid len(cuts), the final partition, matching DESC NULLS
    LAST."""
    cuts = sorted(set(cuts))

    def go(lo: int, hi: int) -> str:
        # ASC leaf: bisect_right index; DESC leaf: len - bisect_left
        if lo == hi:
            return str(lo if asc else len(cuts) - lo)
        mid = (lo + hi) // 2
        op = ">=" if asc else ">"
        return (
            f"(CASE WHEN {enc_sql} {op} {float(cuts[mid])!r} "
            f"THEN {go(mid + 1, hi)} ELSE {go(lo, mid)} END)"
        )

    return F.expr(go(0, len(cuts)))


def stitched_running(
    df: DataFrame,
    order_cols: list[str | Column],
    running: dict[str, str | Column] | None = None,
    rank_name: str | None = None,
    partition_cols: list[str] | None = None,
    boundaries: list | None = None,
    running_min_excl: dict[str, str | Column] | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Global running sums / row rank over a TOTAL order, without a
    single-partition window — the scale pattern for every empty
    PARTITION-BY frame over fact-grain data.

    1. Rows get a partition id that is monotone in the total order — a
       deterministic count-of-boundaries-passed expression (equal keys
       never split across ids; see the boundary rule below).
    2. A LOCAL window per partition id computes within-partition
       running sums and row counts: all partitions work independently.
    3. Per-partition totals (one row per partition id) cumsum into
       prefix OFFSETS — the only single-partition window, over data
       whose size equals the partition COUNT — broadcast back.
    4. global = local + offset of all earlier partitions.

    The result is independent of where the boundaries fall (offsets
    absorb any split).

    Sizing, one rule: ``n = 2 × defaultParallelism`` pinned shuffle
    partitions, so every core gets work and AQE cannot coalesce the
    row-CPU-bound local window onto a few tasks. Auto-derived cuts are
    ``4n``: about four pid values hash into each shuffle partition,
    which evens out their uneven placement. At small inputs the
    stitch's cost is per task, so the count follows the session, not
    the data.

    NOTHING IS PERSISTED — a long-lived session running dozens of
    stitched queries pins no storage.

    The boundary rule. The first order item must be a bare column, ASC
    or DESC with default null ordering, of a numeric, date, timestamp
    or boolean type; anything else raises ``ValueError`` (project the
    expression to such a column first). The partition id is the count
    of cuts passed by an order-preserving numeric encoding of that
    column (reversed for DESC; NULLs land on the sort-order end). The
    cuts are ``boundaries`` when given (e.g. from
    :func:`range_boundaries`; values of the encoding, which for numeric
    columns is the column itself), else ``4n`` cuts from one memoized
    ``approxQuantile`` pass over the encoded column (column-pruned
    scan, 1% relative error). The cuts are plan literals, so both
    subplans compute identical assignments with no exchange
    consistency requirement at all.

    With ``partition_cols``, the running sums and rank restart per
    group — the stitched form of ``PARTITION BY g ORDER BY ...`` where
    the group cardinality is far below the cluster's parallelism (a
    3-value key would otherwise sort a third of the table on one
    reducer). The pid depends on the order column only, so it is
    monotone within every group too; offsets are per (pid, group) and
    the prefix runs within each group over the pid order.

    Returns ``df`` plus one ``bigint`` column per ``running`` entry
    (global inclusive running sum in total order), one column per
    ``running_min_excl`` entry (global running MIN over the rows
    strictly before, stitched as least(local min, min of earlier
    partitions' minima); type preserved, NULL on a group's first
    row), and, if ``rank_name``, the global 1-based row number.

    ``with_totals=True`` additionally returns the GLOBAL (per-group)
    totals — ``{out}_total`` for each running sum and
    ``{rank_name}_total`` (the row count) — computed from the offsets
    table the stitch already aggregates, so queries that need
    cum/total or rank/count ratios avoid a second full pass over the
    input.
    """
    from pyspark.sql import Window

    running = running or {}
    running_min_excl = running_min_excl or {}
    overlap = set(running) & set(running_min_excl)
    if overlap:
        raise ValueError(f"output names must be unique across running/"
                         f"running_min_excl: {sorted(overlap)}")
    simple = _simple_order(order_cols[0])
    enc = _numeric_encoding_sql(df, simple[0]) if simple else None
    if enc is None:
        raise ValueError(
            f"stitched_running's first order item {order_cols[0]!r} must be a "
            "bare column, ASC or DESC with default null ordering, of a "
            "numeric, date, timestamp or boolean type. Project the "
            "expression to such a column and order by that."
        )
    pc = list(partition_cols or [])
    order_exprs = [F.col(c).asc() if isinstance(c, str) else c for c in order_cols]
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    if boundaries is None:
        boundaries = _memo_boundaries(df, enc)
    # deterministic assignment + ONE EXPLICIT hash exchange on
    # (_pid, groups): the local window's clustering requirement is
    # satisfied by this repartition (no further exchange), and the
    # offsets aggregate below consumes the SAME node — exchange
    # reuse then scans and shuffles the input exactly once, and the
    # offsets branch is a sort-free hash aggregate over the reused
    # shuffle output. The count `n` (see the docstring) is pinned: a
    # bare repartition(col) is REPARTITION_BY_COL, which AQE's
    # byte-based coalescing may shrink onto a few tasks (sf0.1:
    # q_decile_stats' 600k-row local window ran on 3 tasks).
    pid = _pid_case_sql(enc, boundaries, simple[1])
    ranged = df.withColumn("_pid", pid).repartition(n, F.col("_pid"), *pc)
    local_w = (
        Window.partitionBy("_pid", *pc)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged
    for out, src in running.items():
        local = local.withColumn(f"_loc_{out}", F.sum(src).over(local_w))
    if running_min_excl:
        local_w_excl = (
            Window.partitionBy("_pid", *pc)
            .orderBy(*order_exprs)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        for out, src in running_min_excl.items():
            local = local.withColumn(f"_locm_{out}", F.min(src).over(local_w_excl))
    if rank_name:
        local = local.withColumn("_loc_rn", F.count(F.lit(1)).over(local_w))

    off_w = (
        Window.partitionBy(*pc)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off_w_excl = (
        Window.partitionBy(*pc)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    aggs = [F.sum(src).alias(f"_t_{out}") for out, src in running.items()]
    aggs += [F.min(src).alias(f"_tm_{out}") for out, src in running_min_excl.items()]
    # The offsets aggregate consumes `ranged` — the SAME explicit
    # exchange the local window reads — so exchange reuse executes the
    # scan + shuffle once and this branch is a sort-free hash
    # aggregate. Column pruning would silently break the sharing: if
    # the offsets branch needed fewer columns than the local branch,
    # each side would get its own narrower exchange (two scans). The
    # pruning GUARD below pins every input column into the offsets
    # projection via the identity count(*) == greatest(count(*),
    # least(count(col)...)) — true because count(col) ≤ count(*) for
    # every column (NULLs excluded), count is defined for all types,
    # and no optimizer rule can fold greatest/least of non-literal
    # aggregates. (A plain `0 × Σcount(col)` term gets constant-folded
    # away — count is non-nullable — which silently restores the
    # narrow exchange; probed on Spark 4.1.)
    t_n = F.count(F.lit(1))
    guards = [F.count(F.col(c)) for c in df.columns]
    if guards:
        t_n = F.greatest(t_n, F.least(*guards) if len(guards) > 1 else guards[0])
    aggs.append(t_n.alias("_t_n"))
    offsets = ranged.groupBy("_pid", *pc).agg(*aggs)
    sel = [F.col(c) for c in ["_pid", *pc]]
    for out in running:
        sel.append((F.sum(f"_t_{out}").over(off_w) - F.col(f"_t_{out}")).alias(f"_off_{out}"))
    for out in running_min_excl:
        # min over EARLIER partitions only (exclusive frame; NULL for the
        # first partition — least() skips it)
        sel.append(F.min(f"_tm_{out}").over(off_w_excl).alias(f"_offm_{out}"))
    sel.append((F.sum("_t_n").over(off_w) - F.col("_t_n")).alias("_off_n"))
    if with_totals:
        full_w = Window.partitionBy(*pc).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        for out in running:
            sel.append(
                F.sum(f"_t_{out}").over(full_w).cast("bigint").alias(f"{out}_total")
            )
        if rank_name:
            sel.append(
                F.sum("_t_n").over(full_w).cast("bigint").alias(f"{rank_name}_total")
            )
    offsets = offsets.select(*sel)

    joined = local.join(F.broadcast(offsets), ["_pid", *pc])
    for out in running:
        joined = joined.withColumn(
            out, (F.col(f"_loc_{out}") + F.col(f"_off_{out}")).cast("bigint")
        )
    for out in running_min_excl:
        # least() skips NULLs, so the result is NULL only when BOTH the
        # local (exclusive) min and the earlier-partition min are absent
        # — i.e. the global first row of an exclusive frame, as intended
        joined = joined.withColumn(
            out, F.least(F.col(f"_locm_{out}"), F.col(f"_offm_{out}"))
        )
    if rank_name:
        joined = joined.withColumn(
            rank_name, (F.col("_loc_rn") + F.col("_off_n")).cast("bigint")
        )
    drop = ["_pid", "_off_n", "_loc_rn"]
    drop += [c for out in running for c in (f"_loc_{out}", f"_off_{out}")]
    drop += [c for out in running_min_excl for c in (f"_locm_{out}", f"_offm_{out}")]
    return joined.drop(*drop)


def ntile_from_rank(k: int, rank_col: str, n_col: str) -> Column:
    """Closed-form ``ntile(k)`` from a global 1-based rank and total
    count: the first ``N % k`` tiles hold ``N div k + 1`` rows, the
    rest ``N div k`` — SQL-standard semantics, identical in Spark and
    DuckDB. Lets a stitched distributed rank replace the
    single-partition window ``ntile(k) OVER (ORDER BY ...)``."""
    return (
        F.expr(
            f"CASE WHEN {rank_col} <= ({n_col} % {k}) * ({n_col} div {k} + 1)"
            f"     THEN ({rank_col} - 1) div ({n_col} div {k} + 1) + 1"
            f"     ELSE ({n_col} % {k})"
            f"          + ({rank_col} - ({n_col} % {k}) * ({n_col} div {k} + 1) - 1)"
            f"            div ({n_col} div {k}) + 1 END"
        )
    ).cast("int")


def range_boundaries(df: DataFrame, *cols: str) -> list[list]:
    """Approximate equi-depth cut lists for ``stitched_running``'s
    ``boundaries``, one per column of ``cols``, from ONE
    ``approxQuantile`` pass on the driver (relative error 1%). The cuts
    are the ``4n``-quantiles of the stitch's sizing rule, ``n = 2 ×
    defaultParallelism``. Chained stitches take their cuts from one
    multi-column call: an auto-derived cut pass per stitch re-executes
    every upstream stitch inside its own quantile action. Boundary skew
    only unbalances partitions — the stitch's offsets make the RESULT
    independent of where the cuts fall — so the cheap sketch is always
    safe."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    probs = [i / (4 * n) for i in range(1, 4 * n)]
    return [sorted(set(c)) for c in df.approxQuantile(list(cols), probs, 0.01)]
