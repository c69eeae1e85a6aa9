"""Unit tests for the distributed rank / ntile machinery
(operators/order.py) and the exact blocked cosine threshold join
(operators/similarity.py) — the round-3 replacements for
single-partition windows and whole-corpus broadcasts. Edge cases the
query-level parity tests don't reach: total skew (every score equal →
one bucket), duplicate scores across buckets, k > n, and degenerate
block counts.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators.order import (
    distributed_ntile,
    distributed_rank,
)
from data_eng_taxi_ibis_dagster_spark.operators.similarity import (
    cosine_threshold_pairs_blocked,
    cosine_topk,
)
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan


def _rows(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                 ["id", "v"])


@pytest.mark.parametrize("vals", [
    [5.0, 1.0, 3.0, 2.0, 4.0, 0.0, 6.0],
    [1.0] * 9,                       # total skew: one bucket holds all
    [1.0, 1.0, 2.0, 2.0, 2.0, 3.0],  # duplicate scores
    [float(x) for x in range(100)],
])
def test_distributed_rank_matches_global_window(spark, vals):
    df = _rows(spark, vals)
    got = distributed_rank(df, F.col("v"), F.col("id"), buckets=4,
                           name="pos", total_name="n")
    want = df.withColumn(
        "pos", F.row_number().over(Window.orderBy("v", "id")))
    g = {(r["id"]): (r["pos"], r["n"]) for r in got.collect()}
    w = {(r["id"]): r["pos"] for r in want.collect()}
    assert {k: v[0] for k, v in g.items()} == w
    assert all(v[1] == len(vals) for v in g.values())


@pytest.mark.parametrize("n,k", [(7, 4), (8, 4), (3, 5), (100, 7), (1, 1)])
def test_distributed_ntile_matches_spark_ntile(spark, n, k):
    df = _rows(spark, [float((i * 13) % n) for i in range(n)])
    got = distributed_ntile(df, F.col("v"), F.col("id"), k=k, buckets=4,
                            name="tile")
    want = df.withColumn(
        "tile", F.ntile(k).over(Window.orderBy("v", "id")))
    g = {r["id"]: r["tile"] for r in got.collect()}
    w = {r["id"]: r["tile"] for r in want.collect()}
    assert g == w


def _vecs(spark, arrays):
    return spark.createDataFrame(
        [(i, [float(x) for x in a]) for i, a in enumerate(arrays)],
        ["vec_id", "embedding"])


def test_blocked_cosine_matches_bruteforce(spark):
    import itertools
    import math
    import random

    rng = random.Random(7)
    arrays = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    df = _vecs(spark, arrays)
    got = {(r["vec_a"], r["vec_b"]) for r in
           cosine_threshold_pairs_blocked(df, 0.5, n_blocks=4).collect()}
    want = set()
    for a, b in itertools.combinations(range(len(arrays)), 2):
        va, vb = arrays[a], arrays[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        if dot / (na * nb) >= 0.5:
            want.add((a, b))
    assert got == want  # exact recall: triangle pruning drops nothing


def test_blocked_cosine_identical_vectors_one_block(spark):
    # every vector identical → one block, radius 0; all pairs qualify
    df = _vecs(spark, [[1.0, 2.0, 3.0]] * 6)
    got = cosine_threshold_pairs_blocked(df, 0.99, n_blocks=3)
    assert got.count() == 15  # C(6,2)
    assert got.agg(F.min("cosine_sim")).first()[0] == pytest.approx(1.0)


def test_blocked_cosine_more_blocks_than_vectors(spark):
    df = _vecs(spark, [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    got = {(r["vec_a"], r["vec_b"]) for r in
           cosine_threshold_pairs_blocked(df, 0.7, n_blocks=8).collect()}
    # cos(e1,e2)=0, cos(e1,diag)=cos(e2,diag)=1/sqrt(2)≈0.707
    assert got == {(0, 2), (1, 2)}


def test_blocked_cosine_agrees_with_topk_operator(spark):
    """Cross-operator consistency: every pair the blocked join reports
    above threshold must appear in the exact top-k scan, same scores."""
    import random

    rng = random.Random(3)
    arrays = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(20)]
    df = _vecs(spark, arrays)
    pairs = cosine_threshold_pairs_blocked(df, 0.4, n_blocks=4).collect()
    topk = cosine_topk(df, df, k=19)
    scores = {(r["query_id"], r["match_id"]): r["cosine_sim"]
              for r in topk.collect()}
    for r in pairs:
        assert scores[(r["vec_a"], r["vec_b"])] == pytest.approx(
            r["cosine_sim"], abs=1e-12)


def test_cosine_block_k_scaling(spark, sf_dir):
    """The k-scaling contract (round-9 verdict #3): with n_blocks
    unset, the operator derives n_blocks = max(8, ceil(n/TARGET)) from
    the corpus count at plan build, so expected block size stays
    ~TARGET as the corpus grows — on a 10×-gate corpus the centroid
    limit in the plan must have GROWN past the old literal 8, or the
    blocking has quietly degenerated to O((n/8)²)-per-block work."""
    import math
    import re

    from data_eng_taxi_ibis_dagster_spark.operators.similarity import (
        COSINE_BLOCK_TARGET_ROWS,
        cosine_threshold_pairs_blocked,
    )
    from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n1 = e.count()
    big = e
    for rep in range(1, 10):  # 10× the gate corpus, distinct ids
        big = big.unionByName(
            e.select((F.col("vec_id") + rep * 1_000_000).alias("vec_id"),
                     "embedding"))
    pairs = cosine_threshold_pairs_blocked(big, 0.999)
    plan = physical_plan(pairs)
    want_k = max(8, math.ceil(10 * n1 / COSINE_BLOCK_TARGET_ROWS))
    limits = [int(m) for m in
              re.findall(r"TakeOrderedAndProject\(limit=(\d+)", plan)]
    assert want_k > 8, "fixture too small to exercise the derivation"
    assert want_k in limits, (
        f"derived centroid count {want_k} not in plan limits {limits} — "
        f"n_blocks is not scaling with the corpus")
    # correctness under derived blocking: the 10 id-shifted replicas of
    # each vector are exact duplicates (cos = 1 ≥ 0.999) and the
    # triangle prune must not lose ANY of the C(10,2) replica pairs
    found = (pairs
             .filter(F.pmod(F.col("vec_a"), F.lit(1_000_000))
                     == F.pmod(F.col("vec_b"), F.lit(1_000_000)))
             .count())
    assert found >= 45 * n1, (
        f"only {found} of the {45 * n1} planted replica pairs survived "
        f"derived blocking — recall lost")


@pytest.mark.parametrize("vals", [
    [5, 1, 3, 2, 4, 0, 6],
    [1] * 9,                    # total skew: one bucket holds all
    [1, 1, 2, 2, 2, 3],         # duplicate scores
    [(x * 37) % 100 for x in range(100)],
])
def test_distributed_prefix_sum_matches_global_window(spark, vals):
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(
        [(i, float(v), v * 10) for i, v in enumerate(vals)],
        ["id", "v", "amt"])
    got = distributed_prefix_sum(
        df, F.col("v"), F.col("amt"), F.col("id"), buckets=4,
        name="prefix", total_name="tot")
    want = df.withColumn(
        "prefix",
        F.sum("amt").over(
            Window.orderBy("v", "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow)))
    g = {r["id"]: (r["prefix"], r["tot"]) for r in got.collect()}
    w = {r["id"]: r["prefix"] for r in want.collect()}
    assert {k: v[0] for k, v in g.items()} == w
    assert all(v[1] == sum(x * 10 for x in vals) for v in g.values())


@pytest.mark.parametrize("vals", [
    [5, 1, 3, 2, 4, 0, 6],
    [1] * 9,                    # total skew: one bucket holds all ties
    [1, 1, 2, 2, 2, 3],         # duplicate scores within a bucket
    [(x * 37) % 100 for x in range(100)],
])
def test_distributed_prefix_max_matches_global_window(spark, vals):
    """Exclusive prefix max ≡ MAX OVER (ORDER BY … ROWS UNBOUNDED
    PRECEDING TO 1 PRECEDING) — including the NULL for the global
    first row and tie groups sharing a bucket."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_max,
    )

    df = spark.createDataFrame(
        [(i, float(v), (v * 7) % 13) for i, v in enumerate(vals)],
        ["id", "v", "amt"])
    got = distributed_prefix_max(
        df, F.col("v"), F.col("amt"), F.col("id"), buckets=4, name="pm")
    want = df.withColumn(
        "pm",
        F.max("amt").over(
            Window.orderBy("v", "id").rowsBetween(
                Window.unboundedPreceding, -1)))
    g = {r["id"]: r["pm"] for r in got.collect()}
    w = {r["id"]: r["pm"] for r in want.collect()}
    assert g == w and len(g) == len(vals)


def test_distributed_rank_and_prefix_sum_keep_null_scores(spark):
    """NULL scores must sort first (ASC NULLS FIRST) and stay in the
    output — a NULL bucket id would silently drop them at the offsets
    join while their values still inflated every offset."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(
        [(0, None, 10), (1, 2.0, 1), (2, 1.0, 5), (3, None, 7)],
        "id long, v double, amt long")
    got = distributed_prefix_sum(
        df, F.col("v"), F.col("amt"), F.col("id"), buckets=4,
        name="prefix", total_name="tot")
    want = df.withColumn(
        "prefix",
        F.sum("amt").over(
            Window.orderBy(F.col("v").asc_nulls_first(), "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow)))
    g = {r["id"]: (r["prefix"], r["tot"]) for r in got.collect()}
    w = {r["id"]: r["prefix"] for r in want.collect()}
    assert len(g) == 4
    assert {k: v[0] for k, v in g.items()} == w
    assert all(v[1] == 23 for v in g.values())

    ranked = distributed_rank(df, F.col("v"), F.col("id"), buckets=4,
                              name="pos", total_name="n")
    want_r = df.withColumn(
        "pos", F.row_number().over(
            Window.orderBy(F.col("v").asc_nulls_first(), "id")))
    gr = {r["id"]: r["pos"] for r in ranked.collect()}
    wr = {r["id"]: r["pos"] for r in want_r.collect()}
    assert gr == wr and len(gr) == 4


def _grouped_rows(spark, pairs):
    return spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(pairs)], ["id", "g", "v"])


@pytest.mark.parametrize("pairs", [
    [("a", 5.0), ("a", 1.0), ("b", 3.0), ("b", 2.0), ("a", 4.0)],
    [("a", 1.0)] * 6 + [("b", 2.0)] * 3,          # total skew per group
    [("a", float(x % 7)) for x in range(40)]
    + [("b", float(x % 3)) for x in range(25)],   # duplicates, uneven groups
    [("only", float(x)) for x in range(30)],      # single group
])
def test_grouped_rank_matches_partitioned_window(spark, pairs):
    from data_eng_taxi_ibis_dagster_spark.operators.order import grouped_rank

    df = _grouped_rows(spark, pairs)
    got = grouped_rank(df, ["g"], F.col("v"), F.col("id"), buckets=4,
                       name="pos", total_name="n")
    want = df.select(
        "id",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "id"))
        .alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    g = {r["id"]: (r["pos"], r["n"]) for r in got.collect()}
    w = {r["id"]: (r["pos"], r["n"]) for r in want.collect()}
    assert g == w


def test_grouped_rank_null_scores_lead(spark):
    from data_eng_taxi_ibis_dagster_spark.operators.order import grouped_rank

    df = spark.createDataFrame(
        [(0, "a", None), (1, "a", 2.0), (2, "a", 1.0),
         (3, "b", None), (4, "b", None), (5, "b", 9.0)],
        ["id", "g", "v"])
    got = grouped_rank(df, ["g"], F.col("v"), F.col("id"), buckets=4,
                       name="pos", total_name="n")
    want = df.select(
        "id",
        F.row_number().over(
            Window.partitionBy("g").orderBy(F.asc_nulls_first("v"), "id"))
        .alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    g = {r["id"]: (r["pos"], r["n"]) for r in got.collect()}
    w = {r["id"]: (r["pos"], r["n"]) for r in want.collect()}
    assert g == w


def test_rank_normalizes_swapped_multi_row_bounds(spark):
    """Caller ``bounds`` are normalized to ONE (lo, hi) row with
    lo <= hi: a relation whose columns are swapped (high first) and
    which has two rows must neither reverse the bucket order nor
    duplicate input rows through the range cross join."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import grouped_rank

    df = _grouped_rows(
        spark, [("a", float((x * 37) % 50)) for x in range(30)]
        + [("b", float(x)) for x in range(20)])
    bounds = spark.createDataFrame([(49.0, 0.0), (30.0, 10.0)],
                                   "hi double, lo double")
    got = distributed_rank(df, F.col("v"), F.col("id"), buckets=4,
                           name="pos", total_name="n", bounds=bounds)
    want = df.withColumn(
        "pos", F.row_number().over(Window.orderBy("v", "id")))
    assert (sorted((r["id"], r["pos"], r["n"]) for r in got.collect())
            == sorted((r["id"], r["pos"], 50) for r in want.collect()))

    got_g = grouped_rank(df, ["g"], F.col("v"), F.col("id"), buckets=4,
                         name="pos", bounds=bounds)
    want_g = df.withColumn("pos", F.row_number().over(
        Window.partitionBy("g").orderBy("v", "id")))
    assert (sorted((r["id"], r["pos"]) for r in got_g.collect())
            == sorted((r["id"], r["pos"]) for r in want_g.collect()))


@pytest.mark.parametrize("vals", [
    [("a", 5.0, 2), ("a", 1.0, 3), ("b", 3.0, 1), ("a", 2.0, 7),
     ("b", 4.0, 5), ("b", 0.0, 11), ("a", 6.0, 1)],
    [("x", 1.0, 4)] * 9,                       # total skew: one bucket
    [("a", 1.0, 1), ("a", 1.0, 2), ("b", 2.0, 3),
     ("b", 2.0, 4), ("a", 2.0, 5), ("b", 3.0, 6)],  # duplicate scores
    [("g", float(x), x % 5) for x in range(100)],
    [("a", None, 2), ("a", 1.0, 3), ("a", None, 5)],  # NULL scores lead
])
def test_grouped_prefix_sum_matches_per_group_window(spark, vals):
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        grouped_prefix_sum,
    )
    df = spark.createDataFrame(
        [(i, g, s, v) for i, (g, s, v) in enumerate(vals)],
        "id long, g string, s double, v long")
    got = grouped_prefix_sum(df, ["g"], F.col("s"), F.col("v"),
                             F.col("id"), buckets=4, name="pfx",
                             total_name="tot")
    w = (Window.partitionBy("g").orderBy(F.col("s").asc_nulls_first(), "id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = df.withColumn("pfx", F.sum("v").over(w))
    g = {r["id"]: (r["pfx"], r["tot"]) for r in got.collect()}
    ww = {r["id"]: r["pfx"] for r in want.collect()}
    assert {k: v[0] for k, v in g.items()} == ww
    totals = {r["g"]: r["t"] for r in
              df.groupBy("g").agg(F.sum("v").alias("t")).collect()}
    by_group = {(i, gr): g[i][1] for i, (gr, _, _) in enumerate(vals)}
    assert all(t == totals[gr] for (_, gr), t in by_group.items())


def test_grouped_rank_null_group_keys(spark):
    """PARTITION BY keeps a NULL group key as its own partition —
    grouped_rank must too (its internal joins back to the lo_hi and
    offsets relations are null-safe; a plain equi-join would silently
    drop every NULL-group row: round-6 advisor finding)."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import grouped_rank

    df = spark.createDataFrame(
        [(0, None, 3.0), (1, "a", 2.0), (2, None, 1.0),
         (3, "a", 5.0), (4, None, 4.0), (5, "b", 0.0)],
        "id long, g string, v double")
    got = grouped_rank(df, ["g"], F.col("v"), F.col("id"), buckets=4,
                       name="pos", total_name="n")
    want = df.select(
        "id",
        F.row_number().over(Window.partitionBy("g").orderBy("v", "id"))
        .alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    g = {r["id"]: (r["pos"], r["n"]) for r in got.collect()}
    w = {r["id"]: (r["pos"], r["n"]) for r in want.collect()}
    assert len(g) == 6, "NULL-group rows were dropped"
    assert g == w


def test_grouped_prefix_sum_null_group_keys(spark):
    """Same NULL-group-partition contract for the cumulative form,
    including a NULL score inside the NULL group (bucket −1 within the
    NULL partition)."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        grouped_prefix_sum,
    )

    df = spark.createDataFrame(
        [(0, None, 3.0, 2), (1, "a", 2.0, 3), (2, None, None, 5),
         (3, "a", 5.0, 7), (4, None, 4.0, 11), (5, "b", 0.0, 13)],
        "id long, g string, s double, v long")
    got = grouped_prefix_sum(df, ["g"], F.col("s"), F.col("v"),
                             F.col("id"), buckets=4, name="pfx",
                             total_name="tot")
    w = (Window.partitionBy("g").orderBy(F.col("s").asc_nulls_first(), "id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = df.select(
        "id", F.sum("v").over(w).alias("pfx"),
        F.sum("v").over(Window.partitionBy("g")).alias("tot"))
    g = {r["id"]: (r["pfx"], r["tot"]) for r in got.collect()}
    ww = {r["id"]: (r["pfx"], r["tot"]) for r in want.collect()}
    assert len(g) == 6, "NULL-group rows were dropped"
    assert g == ww


@pytest.mark.parametrize("vals", [
    # point mass: 90% of rows share one score
    [(i, 7.0 if i % 10 else float(i), i % 5 + 1) for i in range(60)],
    # all one value
    [(i, 3.0, 2) for i in range(20)],
    # NULLs + point mass
    [(0, None, 4), (1, 5.0, 1), (2, 5.0, 2), (3, None, 8), (4, 9.0, 3),
     (5, 5.0, 6)],
])
def test_distributed_prefix_sum_tie_split(spark, vals):
    """The tie_split decomposition must equal the naive global cumsum
    bit-for-bit on point-mass distributions (the shape the plain
    affine bucketing funnels through one task)."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(vals, "id long, s double, v long")
    got = distributed_prefix_sum(
        df, F.col("s"), F.col("v"), buckets=4, name="cum",
        total_name="tot", tie_split=F.col("id"))
    w = (Window.orderBy(F.col("s").asc_nulls_first(), "id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = df.select("id", F.sum("v").over(w).alias("cum"))
    g = {r["id"]: r["cum"] for r in got.collect()}
    ww = {r["id"]: r["cum"] for r in want.collect()}
    assert g == ww
    total = sum(v for (_, _, v) in vals)
    assert {r["tot"] for r in got.collect()} == {total}


@pytest.mark.parametrize("vals", [
    [("a", 5.0, 2), ("a", 1.0, 3), ("b", 3.0, 1), ("a", 2.0, 7),
     ("b", 4.0, 5), ("b", 0.0, 11), ("a", 6.0, 1)],
    [("x", 1.0, 4)] * 9,                                 # one tie bucket
    [("a", 1.0, 9), ("a", 1.0, 2), ("b", 2.0, 3),
     ("b", 2.0, 4), ("a", 2.0, 5), ("b", 3.0, 6)],       # duplicate scores
    [("g", float(x % 4), x) for x in range(50)],
    [("a", None, 2), ("a", 1.0, 3), ("a", None, 5)],     # NULL scores lead
    [(None, 2.0, 4), ("a", 1.0, 3), (None, None, 5)],    # NULL group keys
])
def test_grouped_prefix_max_matches_per_group_window(spark, vals):
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        grouped_prefix_max,
    )
    df = spark.createDataFrame(
        [(i, g, s, v) for i, (g, s, v) in enumerate(vals)],
        "id long, g string, s double, v long")
    got = grouped_prefix_max(df, ["g"], F.col("s"), F.col("v"),
                             F.col("id"), buckets=4, name="pm")
    w = (Window.partitionBy("g").orderBy(F.col("s").asc_nulls_first(), "id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = df.select("id", F.max("v").over(w).alias("pm"))
    g = {r["id"]: r["pm"] for r in got.collect()}
    ww = {r["id"]: r["pm"] for r in want.collect()}
    assert len(g) == len(vals), "rows dropped"
    assert g == ww


@pytest.mark.parametrize("vals", [
    # point mass: 90% of rows share one score
    [(i, 7.0 if i % 10 else float(i), i % 5 + 1) for i in range(60)],
    [(i, 3.0, 2) for i in range(20)],                    # all one value
    [(0, None, 4), (1, 5.0, 1), (2, 5.0, 2), (3, None, 8), (4, 9.0, 3),
     (5, 5.0, 6)],                                       # NULLs + ties
])
def test_distributed_prefix_max_tie_split(spark, vals):
    """The tie_split decomposition of the EXCLUSIVE global prefix max
    must equal the naive global window bit-for-bit on point-mass
    distributions (MAX is commutative/idempotent, so splitting a tie
    group by an order-preserving sub-key is exact)."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_max,
    )
    df = spark.createDataFrame(vals, "id long, s double, v long")
    got = distributed_prefix_max(
        df, F.col("s"), F.col("v"), buckets=4, name="pm",
        tie_split=F.col("id"))
    w = (Window.orderBy(F.col("s").asc_nulls_first(), "id")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = df.select("id", F.max("v").over(w).alias("pm"))
    g = {r["id"]: r["pm"] for r in got.collect()}
    ww = {r["id"]: r["pm"] for r in want.collect()}
    assert g == ww
