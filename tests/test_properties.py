"""Property-based tests (hypothesis): operator invariants that must
hold on ANY data, not just the fixtures. Examples are kept small and
few — each one is a Spark round trip."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from builder_spark.operators.dedup import exact_dedup, jaccard_pairs
from builder_spark.operators.partitioning import salted_sum_count

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


@_settings
@given(data=rows)
def test_running_sum_final_row_equals_group_sum(spark, data):
    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], ["id", "k", "v"]
    )
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = df.withColumn("rs", F.sum("v").over(w))
    last = running.groupBy("k").agg(F.max_by("rs", "id").alias("final_rs"))
    plain = df.groupBy("k").agg(F.sum("v").alias("total"))
    joined = last.join(plain, "k").collect()
    for r in joined:
        assert abs(r.final_rs - r.total) < 1e-6


@_settings
@given(data=rows)
def test_salted_agg_equals_plain_agg(spark, data):
    df = spark.createDataFrame([(k, float(v)) for k, v in data], ["k", "v"])
    plain = {r.k: (r.s, r.c) for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")).collect()}
    salted = {r.k: (r.sum_v, r.count_v) for r in salted_sum_count(df, ["k"], "v", n=4).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        assert abs(plain[k][0] - salted[k][0]) < 1e-6
        assert plain[k][1] == salted[k][1]


@_settings
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=20).filter(lambda s: s.strip()),
        min_size=2,
        max_size=10,
    )
)
def test_jaccard_bounds_and_identity(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    pairs = jaccard_pairs(df, "doc_id", "text", threshold=0.0).collect()
    for p in pairs:
        assert 0.0 <= p.jaccard <= 1.0
    # identical token sets must appear as jaccard == 1 pairs.
    # NB: split(' ') KEEPS empty tokens in Spark, DuckDB, and Python
    # alike ("a " -> ["a",""]) — the reference model must too.
    toksets = [frozenset(t.split(" ")) for t in texts]
    expected_ones = {
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if toksets[i] == toksets[j] and toksets[i]
    }
    got_ones = {(p.id_a, p.id_b) for p in pairs if p.jaccard == 1.0}
    assert expected_ones <= got_ones


@_settings
@given(data=rows)
def test_exact_dedup_keeps_one_row_per_key(spark, data):
    df = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(data)], ["id", "k"]
    )
    out = exact_dedup(df, key="k", order_col="id")
    rows_out = out.collect()
    assert len(rows_out) == df.select("k").distinct().count()
    # keeps the MIN id per key, and is idempotent
    mins = {r.k: r.m for r in df.groupBy("k").agg(F.min("id").alias("m")).collect()}
    for r in rows_out:
        assert r.id == mins[r.k]
    assert exact_dedup(out, key="k", order_col="id").count() == len(rows_out)


asof_data = st.tuples(
    st.lists(  # events: (user, t)
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # orders: (user, t); order key = list index
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=0,
        max_size=25,
    ),
)


@_settings
@given(data=asof_data)
def test_asof_union_running_last_matches_naive(spark, data):
    """The union + running-last as-of algorithm (q_join_asof's core)
    must agree with the obvious quadratic definition — for each event,
    the order with max (t, key) among t <= event.t on the same user —
    on ANY timeline, including ties between orders, order-vs-event
    timestamp ties (<= semantics: the order wins), and users with
    orders but no events or vice versa."""
    events, orders = data
    ev = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(events)], ["event_id", "user_id", "t"]
    )
    od = spark.createDataFrame(
        [(k, u, t) for k, (u, t) in enumerate(orders)], ["o_key", "user_id", "t"]
    ) if orders else spark.createDataFrame([], "o_key long, user_id long, t long")

    # algorithm under test (mirror of q_join_asof)
    left = ev.select(
        "user_id", F.col("t").alias("_t"), F.lit(1).alias("_kind"), "event_id",
        F.lit(None).cast("long").alias("o_key"),
    )
    right = od.select(
        "user_id", F.col("t").alias("_t"), F.lit(0).alias("_kind"),
        F.lit(None).cast("long").alias("event_id"), "o_key",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_t").asc(), F.col("_kind").asc(), F.col("o_key").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        (r.event_id, r.o_key)
        for r in left.unionByName(right)
        .withColumn("_last", F.last("o_key", ignorenulls=True).over(w))
        .filter((F.col("_kind") == 1) & F.col("_last").isNotNull())
        .select("event_id", F.col("_last").alias("o_key"))
        .collect()
    }

    # naive quadratic reference in plain Python
    want = set()
    for i, (u, t) in enumerate(events):
        cands = [(ot, k) for k, (ou, ot) in enumerate(orders) if ou == u and ot <= t]
        if cands:
            want.add((i, max(cands)[1]))
    assert got == want


def test_prefix_filter_candidates_are_output_bound(spark):
    """The PPJoin prefix-filter candidate set must be COMPLETE (superset
    of all true >= tau pairs) and TIGHT (bounded by a small multiple of
    the true pair count, not by sum-of-token-df^2). The fixture corpus
    is adversarially dense — 31-word vocabulary, ~59% of all pairs are
    true near-dups at tau=0.6 — so candidate count is inherently
    Theta(output); this guard pins the ratio so a regression to a hot-
    token common-token join (candidates -> all-pairs regardless of
    output) fails here."""
    from builder_spark.catalog import load_table
    from builder_spark.functions.text import tokens
    from builder_spark.operators.dedup import (
        jaccard_from_sets,
        prefix_filter_candidates,
    )

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = load_table(spark, sf_dir, "documents")
    items = d.select(
        F.col("doc_id").alias("_id"), F.array_distinct(tokens("text")).alias("_arr")
    )
    cands = prefix_filter_candidates(items, 0.6)
    n_cand = cands.count()
    true_pairs = jaccard_from_sets(items, cands, 0.6)
    n_true = true_pairs.count()
    assert n_cand >= n_true  # complete
    assert n_cand <= 1.6 * n_true + 100, (
        f"candidate set no longer output-bound: {n_cand} candidates "
        f"for {n_true} true pairs"
    )


@given(
    n=st.integers(min_value=1, max_value=5000),
    k=st.sampled_from([2, 3, 4, 7, 10, 32, 100]),
)
@settings(max_examples=60, deadline=None)
def test_ntile_from_rank_closed_form_is_sql_standard(n, k):
    """Pure-math check (no Spark): the closed form used by
    ntile_from_rank partitions ranks 1..n into k SQL-standard tiles —
    first n%k tiles hold n//k+1 rows, sizes never differ by more than
    one, tiles are contiguous and nondecreasing."""
    q, r = divmod(n, k)

    def tile(rn: int) -> int:
        if rn <= r * (q + 1):
            return (rn - 1) // (q + 1) + 1
        return r + (rn - r * (q + 1) - 1) // q + 1

    tiles = [tile(rn) for rn in range(1, n + 1)]
    assert tiles == sorted(tiles)
    from collections import Counter

    sizes = Counter(tiles)
    assert set(sizes) == set(range(1, min(k, n) + 1))
    expect_big, expect_small = q + 1, q
    for t, sz in sizes.items():
        assert sz == (expect_big if t <= r else expect_small) or (q == 0 and sz == 1)


@_settings
@given(data=rows)
def test_grouped_topk_equals_plain_window_topk(spark, data):
    """grouped_topk == the naive PARTITION BY window top-k on ANY data
    (ties broken by the unique id so the order is total)."""
    from builder_spark.operators.topk import grouped_topk

    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], ["id", "k", "v"]
    ).repartition(4)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = sorted(
        (r.k, r.id, r.rnk) for r in grouped_topk(df, ["k"], order, 3).collect()
    )
    w = Window.partitionBy("k").orderBy(*order)
    want = sorted(
        (r.k, r.id, r.rnk)
        for r in df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    )
    assert got == want


@_settings
@given(
    keys=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=20
    ),
    m=st.sampled_from([7, 100, 10000]),
)
def test_knuth_bucket_matches_python_reference(spark, keys, m):
    """Decimal-widened Knuth hash == the Python big-int reference on
    ANY int64 key — including the overflow range the old BIGINT
    multiply raised on."""
    from builder_spark.functions.hashing import KNUTH, knuth_bucket

    df = spark.createDataFrame([(k,) for k in set(keys)], "k long")
    got = {r.k: r.b for r in df.select("k", knuth_bucket("k", m).alias("b")).collect()}
    assert got == {k: (k * KNUTH) % 2**32 % m for k in set(keys)}


@_settings
@given(data=rows)
def test_stitched_running_modes_agree(spark, data):
    """The deterministic auto-boundary mode, an explicit-boundaries
    call, and the naive single-partition window must all produce the
    same running sums and ranks on ANY data."""
    from builder_spark.operators.partitioning import stitched_running

    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], ["id", "k", "v"]
    ).repartition(4)
    base = df.withColumn("vi", F.col("k").cast("bigint"))
    auto = stitched_running(base, ["id"], running={"rs": "vi"}, rank_name="rn")
    expl = stitched_running(
        base, ["id"], running={"rs": "vi"}, rank_name="rn", boundaries=[len(data) // 2]
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = base.select(
        "id",
        F.sum("vi").over(w).cast("bigint").alias("rs"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("rn"),
    )
    want = sorted((r.id, r.rs, r.rn) for r in naive.collect())
    assert sorted((r.id, r.rs, r.rn) for r in auto.select("id", "rs", "rn").collect()) == want
    assert sorted((r.id, r.rs, r.rn) for r in expl.select("id", "rs", "rn").collect()) == want


@_settings
@given(data=rows, p=st.sampled_from([0.1, 0.25, 0.5, 0.9]))
def test_stitched_quantile_matches_builtin_percentile(spark, data, p):
    """quantile_cont_stitched == Spark's exact percentile aggregate on
    ANY data (grouped and global), to float tolerance."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in data], ["k", "v"]
    ).repartition(4)
    got = {
        r.k: r.q
        for r in quantile_cont_stitched(df, "v", {"q": p}, ["k"]).collect()
    }
    want = {
        r.k: r.q
        for r in df.groupBy("k").agg(F.percentile("v", p).alias("q")).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    g = quantile_cont_stitched(df, "v", {"q": p}).collect()[0].q
    w = df.agg(F.percentile("v", p).alias("q")).collect()[0].q
    assert abs(g - w) < 1e-9


def test_stitched_quantile_ignores_nulls(spark):
    """ADVICE r5: NULL values must not rank or count — the builtins
    (Spark percentile, DuckDB quantile_cont) ignore NULLs, so the
    stitched drop-in must too. The r5 repro: [None,1,2,3,4] has median
    2.5 (null-ignoring), not 2.0 (null counted into n)."""
    from builder_spark.operators.quantiles import quantile_cont_stitched

    df = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
         ("b", 10.0), ("b", None), ("b", 20.0)],
        "k string, v double",
    ).repartition(3)
    got = {r.k: (r.n, r.q) for r in quantile_cont_stitched(df, "v", {"q": 0.5}, ["k"]).collect()}
    want = {
        r.k: (r.n, r.q)
        for r in df.groupBy("k").agg(
            F.count("v").alias("n"), F.percentile("v", 0.5).alias("q")
        ).collect()
    }
    assert got == want
    g = quantile_cont_stitched(df, "v", {"q": 0.5}).collect()[0]
    w = df.agg(F.count("v").alias("n"), F.percentile("v", 0.5).alias("q")).collect()[0]
    assert (g.n, g.q) == (w.n, w.q)


@_settings
@given(
    cuts=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=0, max_size=40
    ),
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-60, max_value=60)),
        min_size=1,
        max_size=30,
    ),
    asc=st.booleans(),
)
def test_binary_search_pid_matches_linear_count(spark, cuts, vals, asc):
    """The r7 binary-search nested-CASE pid must equal the linear
    count-of-boundaries-passed definition on any value/cut set, both
    directions, including NULLs (ASC → pid 0, DESC → pid len(cuts))
    and duplicate cuts (deduped)."""
    from builder_spark.operators.partitioning import _pid_case_sql

    cset = sorted(set(cuts))

    def expected(v):
        if v is None:
            return 0 if asc else len(cset)
        if asc:
            return sum(1 for b in cset if v >= b)
        return sum(1 for b in cset if v <= b)

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v int")
    out = df.select(
        "i",
        _pid_case_sql("`v`", list(cuts), asc).alias("p_sql"),
    ).collect()
    for r in out:
        want = expected(vals[r["i"]])
        assert r["p_sql"] == want, (vals[r["i"]], cset, asc, r["p_sql"], want)


@_settings
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefghij"), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
    tau=st.sampled_from([0.5, 0.7, 0.9]),
)
def test_containment_pairs_complete_vs_brute_force(spark, docs, tau):
    """containment_pairs (asymmetric prefix filter + verify) must
    return EXACTLY the brute-force |A∩B|/min(|A|,|B|) ≥ τ pairs on any
    token multiset — the completeness proof, checked empirically."""
    from builder_spark.operators.dedup import containment_pairs

    items = spark.createDataFrame(
        [(i, doc) for i, doc in enumerate(docs)], "_id long, text string"
    ).select("_id", F.array_distinct(F.split("text", " ")).alias("_arr"))
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(items, tau).collect()
    }
    sets = {i: set(doc.split(" ")) for i, doc in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                c = round(
                    len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b])), 4
                )
                if c >= tau:
                    want.add((a, b, c))
    assert got == want


def test_winnow_containment_pairs_complete_vs_brute_force(spark):
    """winnow_containment_pairs must return EXACTLY the brute-force
    shared / min(|A|,|B|) ≥ τ pairs over the same winnow_fingerprints
    sets, shared counts included. The corpus plants copies of short
    docs inside longer unrelated text (containment near 1, Jaccard
    small) next to lightly edited copies and unrelated docs."""
    import random

    from builder_spark.operators.dedup import winnow_containment_pairs, winnow_fingerprints

    rng = random.Random(11)
    vocab = [
        "alpha", "bravo", "delta", "echo", "golf", "hotel", "india", "kilo",
        "lima", "mike", "oscar", "papa", "romeo", "sierra", "tango", "victor",
    ]

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    base = [words(rng.randint(6, 12)) for _ in range(6)]
    docs = list(base)
    for i, b in enumerate(base[:4]):
        docs.append(f"{words(8)} {b} {words(10)}")  # embedded whole
        docs.append(b.replace(" ", "  ", 1) + f" {vocab[i]}")  # light edit
    docs += [words(15) for _ in range(4)]
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    fps: dict[int, set] = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    for tau in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"], r["shared_fp"], r["containment"])
            for r in winnow_containment_pairs(df, "doc_id", "text", tau).collect()
        }
        want = set()
        for a in fps:
            for b in fps:
                if a < b:
                    shared = len(fps[a] & fps[b])
                    c = round(shared / min(len(fps[a]), len(fps[b])), 4)
                    if c >= tau:
                        want.add((a, b, shared, c))
        planted = {(i, 6 + 2 * i) for i in range(4)}
        assert planted <= {(a, b) for a, b, _, _ in want}
        assert got == want


@_settings
@given(data=rows)
def test_grouped_stitch_matches_partitioned_window(spark, data):
    """The GROUPED stitch (partition_cols= — the form behind every
    per-group headline query) must agree with the naive PARTITION BY
    window on ANY data: per-group running sum, rank, exclusive running min, and
    the with_totals per-group totals."""
    from builder_spark.operators.partitioning import stitched_running

    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], ["id", "k", "v"]
    ).repartition(4)
    base = df.withColumn("vi", (F.col("v") * 100).cast("bigint"))
    got = stitched_running(
        base,
        ["id"],
        running={"rs": "vi"},
        running_min_excl={"rme": "vi"},
        rank_name="rn",
        partition_cols=["k"],
        with_totals=True,
    )
    w = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("k")
    we = (
        Window.partitionBy("k")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = base.select(
        "id",
        F.sum("vi").over(w).cast("bigint").alias("rs"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("rn"),
        F.min("vi").over(we).cast("bigint").alias("rme"),
        F.sum("vi").over(wt).cast("bigint").alias("rs_total"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("rn_total"),
    )
    cols = ["id", "rs", "rn", "rme", "rs_total", "rn_total"]
    want = sorted(tuple(r[c] for c in cols) for r in naive.collect())
    have = sorted(tuple(r[c] for c in cols) for r in got.select(*cols).collect())
    assert have == want


@_settings
@given(data=rows)
def test_grouped_topk_matches_window_on_any_data(spark, data):
    """grouped_topk's two-phase prune == plain PARTITION BY row_number
    on ANY data — including heavy value ties (the float values repeat
    across the tiny key range), groups smaller than k, and single-row
    input. The fixture test covers one deterministic shape; this pins
    the tie-break contract under fuzz."""
    from builder_spark.operators.topk import grouped_topk

    df = spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], ["id", "g", "v"]
    ).repartition(4)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = sorted(
        (r.g, r.id, r.rnk) for r in grouped_topk(df, ["g"], order, 3).collect()
    )
    w = Window.partitionBy("g").orderBy(*order)
    want = sorted(
        (r.g, r.id, r.rnk)
        for r in df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    )
    assert got == want
