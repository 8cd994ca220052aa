"""Unit tests for parallelism repair and skew-handling helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from builder_spark.operators.partitioning import (
    replicate_for_salted_join,
    salted_sum_count,
    spread,
    with_salt,
)


def _skewed(spark):
    # 10_000 rows, 90% on key 'hot'
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


def test_spread_raises_partition_count(spark):
    df = spark.range(100).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_spread_noop_when_well_partitioned(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 4)
    assert spread(df, "id") is df


def test_with_salt_splits_hot_key(spark):
    df = with_salt(spread(_skewed(spark), "v"), 8)
    per_salt = df.filter(F.col("k") == "hot").groupBy("_salt").count().collect()
    assert len(per_salt) == 8  # hot key spread over all salt buckets


def test_salted_sum_count_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")).collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["count_v"])
        for r in salted_sum_count(df, ["k"], "v", n=8).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert abs(plain[k][0] - salted[k][0]) < 1e-6
        assert plain[k][1] == salted[k][1]


def test_replicated_salted_join_matches_plain_join(spark):
    big = with_salt(_skewed(spark), 4)
    small = spark.createDataFrame([("hot", 1.5), ("cold", 2.5)], ["k", "w"])
    plain = _skewed(spark).join(small, "k").agg(F.round(F.sum(F.col("v") * F.col("w")), 4)).collect()[0][0]
    salted = (
        big.join(replicate_for_salted_join(small, 4), ["k", "_salt"])
        .agg(F.round(F.sum(F.col("v") * F.col("w")), 4))
        .collect()[0][0]
    )
    assert plain == salted


# ---- stitched_running boundary-mode hardening (round 6) ----------------

import datetime

import pytest
from pyspark.sql import Window

from builder_spark.operators.partitioning import _simple_order, stitched_running


def test_simple_order_rendering_pinned(spark):
    """_simple_order parses Column._jc.toString() — a private rendering
    that can change across Spark versions. Pin the expected forms so an
    upgrade fails here rather than in every stitched query."""
    assert _simple_order("x") == ("x", True)
    assert _simple_order(F.col("x")) == ("x", True)
    assert _simple_order(F.col("x").asc()) == ("x", True)
    assert _simple_order(F.col("x").desc()) == ("x", False)
    # complex / custom-NULLS shapes must NOT parse (the stitch rejects them)
    assert _simple_order(F.col("x") + 1) is None
    assert _simple_order(F.col("x").desc_nulls_first()) is None
    assert _simple_order(F.col("x").asc_nulls_last()) is None


def _naive(df, order_exprs, running_src, rank=True):
    w = Window.orderBy(*order_exprs)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.withColumn("rv", F.sum(running_src).over(wf).cast("bigint"))
    if rank:
        out = out.withColumn("rn", F.row_number().over(w).cast("bigint"))
    return out


def _same(a, b, cols):
    sa, sb = a.select(*cols), b.select(*cols)
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0


def test_stitched_date_and_timestamp_order_deterministic(spark):
    """date / timestamp first order columns use the order-preserving
    numeric encoding (unix_date / unix_micros) — deterministic mode,
    exact vs the naive window."""
    rows = [(datetime.date(2020, 1, 1) + datetime.timedelta(days=(i * 7) % 90), i)
            for i in range(400)]
    df = spark.createDataFrame(rows, "d date, v int").repartition(4)
    got = stitched_running(df, ["d", "v"], rank_name="rn")
    assert "rangepartitioning" not in got._jdf.queryExecution().executedPlan().toString()
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("d", "v")).cast("bigint"))
    _same(got, want, ["d", "v", "rn"])

    ts = df.select(F.col("d").cast("timestamp").alias("t"), "v")
    got_t = stitched_running(ts, ["t", "v"], rank_name="rn")
    assert "rangepartitioning" not in got_t._jdf.queryExecution().executedPlan().toString()
    want_t = ts.withColumn("rn", F.row_number().over(Window.orderBy("t", "v")).cast("bigint"))
    _same(got_t, want_t, ["t", "v", "rn"])


def test_stitched_fallback_needs_exchange_reuse(spark):
    """The partition id is a literal-cut expression, so the stitch
    does not rest on the local-window and offsets subplans sharing one
    exchange: it stays exact with spark.sql.exchange.reuse=false."""
    rows = [(i, (i * 13) % 40, f"p{i % 5}") for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v int, payload string").repartition(4)
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        det = stitched_running(df, ["v", "id"], running={"rv": "v"}, rank_name="rn")
        _same(det, _naive(df, ["v", "id"], "v"), ["id", "v", "payload", "rv", "rn"])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")


def test_stitched_rejects_unencodable_first_order(spark):
    """The first order item must be a bare numeric/date/timestamp/
    boolean column with default null ordering; a complex expression,
    custom NULLS placement or a string column each raise one
    ValueError that says to project it to such a column."""
    df = spark.createDataFrame([(1, 2, "a")], "id int, v int, s string")
    for first in [
        F.col("v") * 2 + 1,
        F.col("v").asc_nulls_last(),
        F.col("v").desc_nulls_first(),
        "s",
    ]:
        with pytest.raises(ValueError, match="Project the expression"):
            stitched_running(df, [first, "id"], rank_name="rn")


def test_stitched_covered_projection_reuses_exchange(spark):
    """The offsets aggregate consumes the same explicit (_pid)
    repartition the local window reads, with a pruning guard pinning
    every column into both branches — so the final adaptive plan holds
    a ReusedExchange and the input is scanned and shuffled ONCE (the
    r6 double-scan fix). Exercised on a parquet-backed frame: the
    guard relies on count(col) staying un-rewritten, which holds for
    NULLABLE columns (parquet defaults); non-nullable sources (e.g.
    spark.range) legitimately fall back to two pruned scans."""
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", (F.col("o_orderkey") % 7).alias("v")
    )
    out = stitched_running(df, ["o_orderkey"], running={"rv": "v"}, rank_name="rn")
    out.collect()  # collect: the df's OWN QueryExecution reaches the AQE-final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, "offsets subplan no longer shares the window exchange"
    # within the FINAL plan section, exactly one live scan (the
    # pre-reuse "Initial Plan" section below it legitimately shows two)
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("FileScan") == 1


@pytest.mark.parametrize("grouped", [False, True], ids=["ungrouped", "grouped"])
def test_stitched_exchange_is_pinned_at_twice_parallelism(spark, sf_dir, grouped):
    """The stitch's one explicit exchange hashes (_pid, groups) into
    exactly 2 × defaultParallelism partitions as REPARTITION_BY_NUM (so
    AQE cannot coalesce it), and it stays ONE exchange: the offsets
    branch reads it back as a ReusedExchange of the same node."""
    import re

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", (F.col("o_orderkey") % 7).alias("v"), (F.col("o_orderkey") % 3).alias("g")
    )
    pc = ["g"] if grouped else []
    out = stitched_running(df, ["o_orderkey"], running={"rv": "v"}, rank_name="rn",
                           partition_cols=pc)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    keys = r"_pid#\d+, g#\d+L" if grouped else r"_pid#\d+"
    n = 2 * spark.sparkContext.defaultParallelism
    pinned = re.compile(rf"Exchange hashpartitioning\({keys}, {n}\), REPARTITION_BY_NUM, \[plan_id=(\d+)\]")
    live = [ln for ln in final.splitlines() if "REPARTITION_BY_NUM" in ln and "ReusedExchange" not in ln]
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(live) == 1 and pinned.search(live[0]), final
    assert len(reused) == 1 and pinned.search(reused[0]), final
    assert pinned.search(live[0]).group(1) == pinned.search(reused[0]).group(1)


# ---- stitched_running edges vs the naive window --------------------------


def _edge_rows(case: str, first: str) -> list[tuple]:
    """(id, k, g, v) rows for one edge case; ``k`` is the first order
    column (bigint or timestamp), ``id`` breaks its ties."""
    n = {"empty": 0, "one_row": 1, "all_tied": 200, "few_distinct": 200}[case]
    rows = []
    for i in range(n):
        kv = 7 if case == "all_tied" else (i * 5) % 3
        k = kv if first == "bigint" else datetime.datetime(2020, 1, 1, kv)
        rows.append((i, k, f"g{i % 3}", (i * 37) % 11 - 5))
    return rows


@pytest.mark.parametrize("grouped", [False, True], ids=["ungrouped", "grouped"])
@pytest.mark.parametrize("first", ["bigint", "timestamp"])
@pytest.mark.parametrize("case", ["empty", "one_row", "all_tied", "few_distinct"])
def test_stitched_edges_match_naive_window(spark, case, first, grouped):
    """Empty input, one row, every first-order value tied, and fewer
    distinct first-order values than boundary cuts: every output of the
    stitch (running sum, exclusive running min, rank and the per-group
    totals) equals the plain window over the same order, ungrouped and
    grouped."""
    rows = _edge_rows(case, first)
    df = spark.createDataFrame(rows, f"id bigint, k {first}, g string, v bigint").repartition(3)
    pc = ["g"] if grouped else []
    got = stitched_running(
        df, ["k", "id"], running={"rs": "v"}, running_min_excl={"rme": "v"},
        rank_name="rn", partition_cols=pc, with_totals=True,
    )
    w = Window.partitionBy(*pc).orderBy("k", "id")
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    whole = Window.partitionBy(*pc)
    want = df.select(
        "*",
        F.sum("v").over(upto).cast("bigint").alias("rs"),
        F.min("v").over(before).alias("rme"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("v").over(whole).cast("bigint").alias("rs_total"),
        F.count(F.lit(1)).over(whole).cast("bigint").alias("rn_total"),
    )
    cols = ["id", "k", "g", "v", "rs", "rme", "rn", "rs_total", "rn_total"]
    assert got.count() == len(rows)
    _same(got, want, cols)
