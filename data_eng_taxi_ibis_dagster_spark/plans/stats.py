"""Statistical-evaluation queries, round 4 (cont. 5): a seasonal-naive
forecast baseline with exact error metrics, and a two-proportion A/B
z-test — the evaluation shapes every analytics deployment runs on top
of the warehouse, both strictly oracle-checked.

Engine-parity: error metrics use long-quantized exact sums; the z-test
is closed-form double arithmetic whose only non-rational op is
``sqrt`` — IEEE-754 requires sqrt to be correctly rounded, so both
engines produce the identical double for identical inputs (same
argument as the exact-division paths elsewhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

_HOUR_US = 3600 * 1000 * 1000


@query(
    "forecast_seasonal_naive",
    oracle=f"""
        WITH hourly AS (
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws_us,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS total_c
            FROM events GROUP BY 1
        ), joined AS (
            SELECT ws_us, total_c,
                   lag(total_c, 24) OVER (ORDER BY ws_us) AS pred_c
            FROM hourly
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(abs(total_c - pred_c)) AS BIGINT) AS sae_c,
               CAST(SUM(abs(total_c - pred_c)) AS DOUBLE)
                   / COUNT(*) / 100.0 AS mae
        FROM joined WHERE pred_c IS NOT NULL
    """,
    tags=("EXT", "forecast"),
)
def forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's total
    spend as the same hour yesterday (lag 24 over the hourly rollup)
    and score with exact MAE. The error accumulates in integer cents —
    SAE is a plain long sum, MAE one exact division — so the metric is
    engine-identical. The lag window runs over the HOURLY relation
    (≈ span/3600 rows), not the event corpus; at 100 TB the rollup is
    the only corpus-scale stage and it is one partial-aggregated
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.expr(f"ts_us DIV {_HOUR_US}") * _HOUR_US).alias("ws_us")
    hourly = ev.groupBy(bucket).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .alias("total_c"))
    w = Window.orderBy("ws_us")  # hourly relation: bounded by time span
    joined = hourly.select(
        "ws_us", "total_c", F.lag("total_c", 24).over(w).alias("pred_c"))
    err = F.abs(F.col("total_c") - F.col("pred_c"))
    return (
        joined.filter(F.col("pred_c").isNotNull())
        .agg(F.count(F.lit(1)).alias("n_hours"),
             F.sum(err).alias("sae_c"),
             (F.sum(err).cast("double") / F.count(F.lit(1)) / F.lit(100.0))
             .alias("mae"))
    )


@query(
    "abtest_two_proportion",
    oracle="""
        WITH assigned AS (
            SELECT user_id, user_id % 2 AS grp,
                   CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
                                        THEN 1 END) >= 14
                        THEN 1 ELSE 0 END AS converted
            FROM events GROUP BY user_id
        ), g AS (
            SELECT grp, COUNT(*) AS n,
                   CAST(SUM(converted) AS BIGINT) AS conv
            FROM assigned GROUP BY grp
        ), wide AS (
            SELECT
                MAX(CASE WHEN grp = 0 THEN n END) AS n0,
                MAX(CASE WHEN grp = 0 THEN conv END) AS c0,
                MAX(CASE WHEN grp = 1 THEN n END) AS n1,
                MAX(CASE WHEN grp = 1 THEN conv END) AS c1
            FROM g
        )
        SELECT n0, c0, n1, c1,
               CAST(c0 AS DOUBLE) / n0 AS p0,
               CAST(c1 AS DOUBLE) / n1 AS p1,
               (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
               / sqrt(
                   (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                   * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                   * (1.0 / n0 + 1.0 / n1)
               ) AS z_score
        FROM wide
    """,
    tags=("EXT", "statistics"),
)
def abtest_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (deterministic
    assignment: user_id parity as the A/B split; converted = user made
    ≥ 14 purchases — a cut near the fixture median, so both outcomes
    exist and the pooled proportion never degenerates to 0 or 1). Counts collapse per user, then per group — the test
    statistic is closed-form over four integers, with ``sqrt`` the only
    irrational op (IEEE-correctly-rounded in both engines, so the
    z-score is bit-identical). The per-user collapse is the only
    corpus shuffle; everything after is 2-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.groupBy("user_id")
        .agg(F.count(F.when(F.col("event_type") == "purchase", 1))
             .alias("_np"))
        .select((F.col("user_id") % 2).alias("grp"),
                F.when(F.col("_np") >= 14, 1).otherwise(0)
                .alias("converted"))
    )
    g = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv"))
    wide = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p0 - p1) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1")))
    return wide.select(
        "n0", "c0", "n1", "c1",
        p0.alias("p0"), p1.alias("p1"), z.alias("z_score"))


@query(
    "weighted_median_price",
    oracle="""
        WITH ranked AS (
            SELECT l_extendedprice,
                   CAST(l_quantity AS BIGINT) AS w,
                   SUM(CAST(l_quantity AS BIGINT)) OVER (
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(CAST(l_quantity AS BIGINT)) OVER () AS tw
            FROM lineitem
        )
        SELECT MIN(l_extendedprice) AS weighted_median,
               CAST(MAX(tw) AS BIGINT) AS total_weight
        FROM ranked WHERE 2 * cw >= tw
    """,
    tags=("E8", "EXT"),
    bench=True,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price: the smallest price whose
    cumulative quantity reaches half the total — the inventory-weighted
    central price. The oracle states it as a global weighted cumsum
    window; the Spark plan is
    :func:`operators.order.distributed_prefix_sum` over integer
    weights (range-bucketed, no single-partition sort), then one
    1-row aggregate. Weights are exact longs, so the selection is
    engine-identical with zero float comparisons."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_prefix_sum,
    )

    # Pre-aggregate per DISTINCT price before the prefix machinery:
    # the selection is provably invariant — within one
    # price's tie group the running sum is monotone, so SOME row of
    # price p passes ``2·cw ≥ tw`` iff the group's LAST row does, and
    # that row's cw is exactly the inclusive prefix over per-price
    # totals; MIN(price) over the passing rows is therefore identical,
    # and tw is the same global sum.  The honest accounting:
    # l_extendedprice is ~97% DISTINCT at sf0.1 — and the
    # qty×retailprice lattice grows linearly with SF just like rows,
    # so the groupBy never meaningfully compresses at ANY scale and
    # total shuffle bytes actually rise ~10% (one extra exchange).
    # The win is elsewhere: dropping the (l_orderkey, l_linenumber)
    # tiebreak columns narrows every row through the prefix
    # machinery's range-bucket sorts and collapses its 3-column sort
    # key to 1 — interleaved A/B at sf0.1 reads 0.76 s vs 1.03 s
    # (−25%) with the pre-agg, consistent across passes.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", F.col("l_quantity").cast("long").alias("w"))
    per_price = li.groupBy("l_extendedprice").agg(F.sum("w").alias("w"))
    # The bucket range comes from one RAW-scan min/max (``bounds``),
    # not min/max over per_price — that would re-evaluate the groupBy
    # subtree a third time just to learn the price range (min/max of
    # the raw column ≡ min/max of its distinct values). With identical
    # prunings on the two remaining per_price consumers, AQE stage
    # reuse shares their exchange, so the aggregate runs ONCE.
    ranked = distributed_prefix_sum(
        per_price, F.col("l_extendedprice"), F.col("w"),
        name="cw", total_name="tw",
        bounds=li.select(F.min("l_extendedprice"),
                         F.max("l_extendedprice")))
    return (
        ranked.filter(2 * F.col("cw") >= F.col("tw"))
        .agg(F.min("l_extendedprice").alias("weighted_median"),
             F.max("tw").alias("total_weight"))
    )
