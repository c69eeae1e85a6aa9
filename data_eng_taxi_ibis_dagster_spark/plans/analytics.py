"""Product-analytics query pack: retention cohorts, RFM segmentation,
and distribution histograms — the standard read-side workloads a
warehouse serves on top of the event/order tables.

All strictly oracle-checked: cohort arithmetic is integer week
bucketing, RFM uses ntile over totally ordered windows (unique
tiebreaks), and the histogram is fixed-width integer binning with
order-independent extrema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

_WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "events_retention_cohorts",
    oracle=f"""
        WITH firsts AS (
            SELECT user_id,
                   MIN(epoch_us(ts)) // {_WEEK_US} AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   epoch_us(ts) // {_WEEK_US} AS active_week
            FROM events
        )
        SELECT f.cohort_week,
               a.active_week - f.cohort_week AS weeks_since,
               CAST(COUNT(*) AS BIGINT) AS n_active_users
        FROM firsts f JOIN activity a USING (user_id)
        GROUP BY 1, 2
    """,
    tags=("E5", "E14", "EXT"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users bucketed by first-seen week
    (cohort), counted in each subsequent week they were active.
    Shape: two user-keyed aggregates (both partial-combined map-side)
    and one co-partitioned join on user_id — the join carries one row
    per (user, active week), already deduplicated, so at 100 TB the
    joined relation is bounded by user-weeks, not raw events. The
    final (cohort, offset) aggregate has a tiny keyspace."""
    e = load_table(spark, sf_dir, "events")
    week = (F.col("ts_us") / F.lit(_WEEK_US)).cast("long")
    firsts = (
        e.select("user_id", week.alias("w"))
        .groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    )
    activity = e.select("user_id", week.alias("active_week")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week"))
                .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "rfm_segmentation",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey AS custkey,
                   MAX(o_orderdate) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT custkey,
               CAST(ntile(4) OVER (ORDER BY last_order, custkey) AS BIGINT)
                   AS r_quartile,
               CAST(ntile(4) OVER (ORDER BY frequency, custkey) AS BIGINT)
                   AS f_quartile,
               CAST(ntile(4) OVER (ORDER BY monetary, custkey) AS BIGINT)
                   AS m_quartile
        FROM per_cust
    """,
    tags=("E5", "EXT"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartiles: per customer, recency (last order date),
    frequency (order count), monetary (exact decimal total), each
    ntile(4)-ranked with custkey tiebreaks so the quartile assignment
    is total-order deterministic. The per-customer aggregate shuffles
    once on custkey; the three quartile assignments use
    ``operators.order.distributed_ntile`` — range-bucketed rank +
    arithmetic ntile — instead of global ntile windows, so NOTHING
    sorts the customer relation on a single partition (the only
    single-partition window is the 256-row bucket-offset running sum).
    Bucket ids come from a monotone *non-decreasing* double cast of
    each measure, which is all bucketing needs — exact within-bucket
    order still uses the raw (measure, custkey) key, and monetary
    stays DECIMAL end-to-end."""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        distributed_ntile,
    )

    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
                .alias("monetary"),
        )
    )
    tiled = per_cust
    for score, out in [
        (F.unix_micros(F.col("last_order").cast("timestamp")), "r_quartile"),
        (F.col("frequency"), "f_quartile"),
        (F.col("monetary"), "m_quartile"),
    ]:
        tiled = distributed_ntile(
            tiled, score, F.col("custkey"), k=4, name=out)
    return tiled.select(
        "custkey",
        F.col("r_quartile").cast("long").alias("r_quartile"),
        F.col("f_quartile").cast("long").alias("f_quartile"),
        F.col("m_quartile").cast("long").alias("m_quartile"),
    )


@query(
    "sketch_rollup_uniques",
    oracle=None,  # HLL estimates — approximate by design, rows-only
    tags=("E8", "E14", "EXT"),
    bench=True,
)
def sketch_rollup_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch-column rollup — THE pattern for incremental
    distinct counts at 100 TB: per-day HLL sketches (Spark's native
    datasketches ``hll_sketch_agg``) are data, not just aggregates —
    persist them with each daily partition and any later rollup
    (week/month/all-time) is a cheap ``hll_union_agg`` over sketch
    bytes instead of a re-scan of raw events. Register-wise max-merge
    is commutative, so estimates are partition-order deterministic.
    Emits per-week estimated uniques from merged daily sketches; the
    pytest twin (test_operators) asserts <2% error vs exact."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    daily = e.groupBy(day).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
    )
    week = (F.unix_micros(F.col("day")) / F.lit(_WEEK_US)).cast("long")
    return (
        daily.groupBy(week.alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
                .alias("est_weekly_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("week")
    )


_BIN_W = 10_000


@query(
    "histogram_price",
    oracle=f"""
        SELECT CAST(floor(o_totalprice / {_BIN_W}) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS bin_min,
               MAX(o_totalprice) AS bin_max
        FROM orders
        GROUP BY 1
    """,
    tags=("E7", "EXT"),
)
def histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (profiling / data-viz
    feed): integer bin ids via floor division, per-bin counts and
    exact extrema (min/max are order-independent, so raw doubles are
    bit-stable cross-engine). One map-side-combined aggregate over a
    bounded bin keyspace — the full-table distribution costs one
    shuffle of (bins × partitions) rows regardless of data size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / _BIN_W).cast("long")
             .alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("bin_min"),
            F.max("o_totalprice").alias("bin_max"),
        )
    )


@query(
    "quantile_sketch_rollup",
    oracle="""
        WITH bins AS (
            SELECT CAST(floor(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) / 10000) AS BIGINT) AS bin,
                   COUNT(*) AS n
            FROM orders
            WHERE o_totalprice IS NOT NULL  -- sketch drops NULLs
            GROUP BY 1
        ),
        c AS (
            SELECT bin,
                   SUM(n) OVER (ORDER BY bin
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   SUM(n) OVER () AS total
            FROM bins
        )
        SELECT CAST(p.pct AS BIGINT) AS pct,
               CAST(MIN(CASE WHEN cum * 100 >= p.pct * total
                             THEN bin END) * 10000 AS BIGINT)
                   AS est_lo_cents,
               CAST(MAX(total) AS BIGINT) AS n_rows
        FROM c CROSS JOIN (VALUES (25), (50), (75), (95)) AS p(pct)
        GROUP BY p.pct
        ORDER BY pct
    """,
    tags=("E8", "EXT"),
    bench=True,
)
def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-histogram rollup (``operators/qsketch``) —
    the percentile companion of ``sketch_rollup_uniques``: per-MONTH
    fixed-grid histograms of order totals ($100 bins over integer
    cents) merged by count addition into the all-time grid, then
    p25/p50/p75/p95 read off the merged sketch as lower-bound
    PERCENTILE_DISC bins (pure-integer rank test ``100·cum ≥ pct·n``).

    The STRICT oracle is the mergeability proof: Spark takes the
    two-level path (month sketches → additive merge → quantiles),
    DuckDB bins the raw table ONCE — identical results by count
    additivity, hash-checked. At 100 TB the month sketches are
    persisted columns (like the HLL rollup): any later slice rollup
    is an aggregate over ≤ range/width-row grids, never a re-scan."""
    from data_eng_taxi_ibis_dagster_spark.operators import qsketch as Q

    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
         .alias("cents"))
    monthly = Q.histogram_sketch(o, F.col("cents"), width=10000,
                                 group_cols=["month"])
    merged = Q.merge_sketches(monthly)
    return (
        Q.sketch_quantiles(merged, [25, 50, 75, 95], width=10000,
                           est_name="est_lo_cents")
        .orderBy("pct")
    )


@query(
    "quantile_sketch_exact_audit",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_quantity) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
            FROM lineitem
            WHERE l_quantity IS NOT NULL  -- sketch drops NULLs
        )
        SELECT l_returnflag, CAST(p.pct AS BIGINT) AS pct,
               CAST(MIN(CASE WHEN rn * 100 >= p.pct * cnt
                             THEN v END) AS BIGINT) AS est_lo,
               CAST(MAX(cnt) AS BIGINT) AS n_rows
        FROM ranked CROSS JOIN (VALUES (25), (50), (75), (95)) AS p(pct)
        GROUP BY l_returnflag, p.pct
        ORDER BY l_returnflag, pct
    """,
    tags=("E8", "EXT"),
)
def quantile_sketch_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch's EXACT REGIME, audited against true PERCENTILE_DISC
    computed a completely different way: l_quantity is an integer grid,
    so a width-1 sketch's bin lower bound IS the discrete percentile —
    and the DuckDB twin derives it by rank selection over the RAW rows
    (row_number vs ``100·rn ≥ pct·cnt``), sharing no intermediate with
    the histogram path. Per-l_returnflag p25/50/75/95 hash-matching
    proves the sketch read-out implements the quantile function, the
    same exact-regime-pins-the-approx-machinery pattern as
    ``approx_exact_regime_audit`` / ``similarity_pq_audit``."""
    from data_eng_taxi_ibis_dagster_spark.operators import qsketch as Q

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"))
    sk = Q.histogram_sketch(li, F.col("qty"), width=1,
                            group_cols=["l_returnflag"])
    return (
        Q.sketch_quantiles(sk, [25, 50, 75, 95], width=1,
                           group_cols=["l_returnflag"])
        .orderBy("l_returnflag", "pct")
    )


@query(
    "quantile_sketch_incremental",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_quantity) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
            FROM lineitem
            WHERE l_quantity IS NOT NULL  -- sketch drops NULLs
        )
        SELECT l_returnflag, CAST(p.pct AS BIGINT) AS pct,
               CAST(MIN(CASE WHEN rn * 100 >= p.pct * cnt
                             THEN v END) AS BIGINT) AS est_lo,
               CAST(MAX(cnt) AS BIGINT) AS n_rows
        FROM ranked CROSS JOIN (VALUES (25), (50), (75), (95)) AS p(pct)
        GROUP BY l_returnflag, p.pct
        ORDER BY l_returnflag, pct
    """,
    tags=("E8", "E14", "EXT"),
    bench=True,
)
def quantile_sketch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental percentiles WITHOUT RESCAN — the production reason
    mergeable sketches exist (round-9 verdict #5), composed with the
    persisted-state ingest shape of ``dedup_incremental_persisted``:

    * ingest cycle 1 (even order keys) sketches ITS rows (width-1
      grid per l_returnflag) and persists the sketch relation as a
      parquet table partitioned by group;
    * ingest cycle 2 (odd order keys) sketches ITS rows and APPENDS
      them — history is never re-read, never re-aggregated at write;
    * the returned plan reads ONLY the persisted sketch table, merges
      by count addition (``merge_sketches``) and reads p25/50/75/95
      off the merged grid (``sketch_quantiles``).

    The STRICT oracle computes true PERCENTILE_DISC over the FULL raw
    table by rank selection (the ``quantile_sketch_exact_audit``
    width-1-regime trick), sharing no intermediate with the sketch
    path — hash-matching proves merge-across-append exactness end to
    end: sketch(A) ⊎ sketch(B) ≡ quantiles(A ∪ B). At 100 TB each
    ingest writes ≤ groups × range/width sketch rows; a percentile
    read costs a grid scan, never a corpus scan. Sketch writes run at
    plan build (the offline ingest half, same convention as the
    persisted LSH index); the executed plan is the grid-only read, so
    ``scripts/profile_query.py`` reports the writes as ``build_s`` and
    ``build_jobs`` and the without-rescan read as ``exec_s``."""
    from data_eng_taxi_ibis_dagster_spark.operators import qsketch as Q
    from data_eng_taxi_ibis_dagster_spark.sources.sinks import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"))
    path = scratch_dir("sg_qsk_rollup", sf_dir)
    for cycle, keep in enumerate((0, 1)):
        batch = li.filter(F.pmod(F.col("l_orderkey"), F.lit(2)) == keep)
        sk = Q.histogram_sketch(batch, F.col("qty"), width=1,
                                group_cols=["l_returnflag"])
        (sk.write.mode("overwrite" if cycle == 0 else "append")
         .partitionBy("l_returnflag").parquet(path))
    persisted = spark.read.parquet(path)
    merged = Q.merge_sketches(persisted, group_cols=["l_returnflag"])
    return (
        Q.sketch_quantiles(merged, [25, 50, 75, 95], width=1,
                           group_cols=["l_returnflag"])
        .orderBy("l_returnflag", "pct")
    )
