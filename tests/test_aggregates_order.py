"""Extended aggregates (plans/aggregates.py) and the distributed
global-sort-index operator (operators/order.py)."""

import pyspark.sql.functions as F
import pytest

from data_eng_taxi_ibis_dagster_spark.operators.order import global_sort_index
from data_eng_taxi_ibis_dagster_spark.plans.registry import get
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan


def test_exact_linear_stats_match_native(spark, sf_dir):
    """The oracle-able closed-form corr/covar/slope must agree with
    Spark's native streaming aggregates to float tolerance (the native
    ones are partition-order-dependent in the last ulps, which is
    exactly why the registered query uses the exact form)."""
    exact = {
        r["l_returnflag"]: r
        for r in get("agg_exact_linear_stats").builder(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qx"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        .alias("qy"),
    )
    native = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.corr("qx", "qy").alias("corr"),
            F.covar_samp("qx", "qy").alias("covar"),
            F.regr_slope("qy", "qx").alias("slope"),
        )
        .collect()
    }
    assert set(exact) == set(native) and len(exact) >= 2
    for flag, e in exact.items():
        n = native[flag]
        assert n["corr"] == pytest.approx(e["corr_qty_price"], rel=1e-9)
        assert n["covar"] == pytest.approx(e["covar_samp_cents"], rel=1e-9)
        assert n["slope"] == pytest.approx(e["slope_cents_per_qty"], rel=1e-9)


def test_global_sort_index_is_global_rank(spark):
    rows = [(i,) for i in range(997)]
    df = spark.createDataFrame(rows, ["k"]).repartition(7)
    h = F.md5(F.col("k").cast("string"))
    out = global_sort_index(df, h, F.col("k"), name="pos").collect()
    assert sorted(r["pos"] for r in out) == list(range(1, 998))
    # position order must equal (md5, k) sort order
    by_pos = [r["k"] for r in sorted(out, key=lambda r: r["pos"])]
    import hashlib

    expected = sorted(
        range(997), key=lambda k: (hashlib.md5(str(k).encode()).hexdigest(), k)
    )
    assert by_pos == expected


def test_global_sort_index_no_single_partition_scan(spark):
    """The big-side window must partition by bucket — the physical plan
    may not funnel the full input through one window partition (the
    naive global row_number would)."""
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    h = F.md5(F.col("k").cast("string"))
    plan = physical_plan(global_sort_index(df, h, F.col("k")))
    # the per-row window runs partitioned by the bucket column, not empty
    assert "_gsi_bucket" in plan


def test_dsum_portable_past_2_53_unscaled(spark):
    """The round-10 sf1 sweep's divergence class, pinned as a unit
    test: once a DECIMAL(38,6) sum's unscaled value exceeds 2^53,
    DuckDB's direct decimal→double cast double-rounds
    (double(unscaled)/10^6) while the JVM rounds once — dsum/sql_dsum
    therefore convert through a string (one correct rounding on both
    engines at any magnitude). Sum enough 17-significant-digit values
    to push the unscaled sum well past 2^53 and require bit equality."""
    import duckdb

    from data_eng_taxi_ibis_dagster_spark.functions.exact import (
        dsum, sql_dsum,
    )

    # ~5e4 rows of ~1e6-scale values with full double mantissas:
    # unscaled(6) sum ≈ 5e16 > 2^53 ≈ 9.007e15
    # Money-like inputs (2-decimal values, far from scale-6 rounding
    # ties, so the per-row cast agrees in both engines) at 1e7
    # magnitude: the 50k-row sum's unscaled value ≈ 5e17 ≈ 2^59, deep
    # past 2^53, where the OLD direct decimal→double cast diverges
    # between the engines for every offset tried and the
    # string-mediated conversion matches. e-notation literals parse
    # as DOUBLE in both engines (a bare 17.01 is DECIMAL to DuckDB).
    df = spark.range(50_000).selectExpr(
        "1e7 + id * 1.7e1 + (id % 97) * 1e-2 + 1e-3 AS x")
    got = df.agg(dsum("x", 6).alias("s")).first()["s"]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_dsum('x', 6)} AS s FROM ("
        "SELECT 1e7 + i * 1.7e1 + (i % 97) * 1e-2 + 1e-3 AS x "
        "FROM range(50000) t(i))"
    ).fetchone()[0]
    assert got == want, (got.hex(), want.hex())
    # and the regime really is past the old failure threshold
    assert abs(got) * 10**6 > 2**53


def test_dsum_repr_tie_quantization_cross_engine(spark):
    """The round-12 adversarial-sweep divergence class, pinned: a
    double→DECIMAL cast rounds the EXACT binary expansion on Spark
    (BigDecimal HALF_UP) but the SHORTEST decimal repr on DuckDB
    (half-even), so 99999999.995 · 0.95 = 94999999.99525000154972…
    (shortest repr "…99525", a scale-4 tie) quantized differently —
    dsum therefore quantizes with FLOOR(x·10^s + 0.5), whose multiply/
    add/floor are each IEEE-correctly-rounded and thus bit-identical
    on both engines for EVERY double."""
    import duckdb

    from data_eng_taxi_ibis_dagster_spark.functions.exact import (
        dquant, dsum, sql_dquant, sql_dsum,
    )

    expr = "99999999.995 * CAST(0.95 AS DOUBLE)"
    df = spark.range(1).selectExpr(f"{expr} AS x")
    got = df.agg(dsum("x", 4).alias("s")).first()["s"]
    got_q = df.select(dquant("x", 4).alias("q")).first()["q"]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_dsum('x', 4)} AS s FROM (SELECT {expr} AS x)"
    ).fetchone()[0]
    want_q = con.execute(
        f"SELECT {sql_dquant('x', 4)} AS q FROM (SELECT {expr} AS x)"
    ).fetchone()[0]
    assert got == want, (got.hex(), want.hex())
    assert got_q == want_q == 94999999.9953  # exact value is ABOVE the tie


def test_dsum_out_of_domain_fails_loud(spark):
    """|x|·10^scale ≥ 2^63 is OUTSIDE dsum's documented domain: both
    engines must fail LOUD (Spark ANSI floor-overflow / DuckDB BIGINT
    cast error), never silently mis-sum — the round-12 adversarial
    fixture originally planted ±1e308, which no engine-exact decimal
    representation can hold."""
    import duckdb
    import pytest

    from data_eng_taxi_ibis_dagster_spark.functions.exact import (
        dsum, sql_dsum,
    )

    df = spark.range(1).selectExpr("1e308 AS x")
    with pytest.raises(Exception,
                       match="(?i)out of int64 domain|overflow|out of range"):
        df.agg(dsum("x", 2).alias("s")).first()
    con = duckdb.connect()
    with pytest.raises(Exception, match="(?i)conversion|out of range"):
        con.execute(f"SELECT {sql_dsum('x', 2)} FROM (SELECT 1e308 AS x)")
