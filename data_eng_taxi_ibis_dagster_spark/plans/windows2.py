"""Window-function and array-aggregate completeness: distribution
functions (ntile / percent_rank / cume_dist), first/last value frames,
sorted array aggregation, deterministic systematic sampling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators import order as O
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


@query(
    "window_distribution_funcs",
    oracle="""
        SELECT o_orderkey,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               FIRST_VALUE(o_orderkey) OVER w AS cheapest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    tags=("E5",),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions, derived arithmetically from
    ``grouped_rank`` instead of a per-status window over the raw
    corpus (3 status values → each naive window group is n/3 rows
    through ONE task). The ORDER BY tuple (price, key) is unique, so
    row_number ≡ rank, percent_rank = (pos−1)/(n−1), cume_dist =
    pos/n, ntile is the closed-form :func:`ntile_from_rank`, and
    first_value is the per-status ``min_by`` aggregate — every value
    bit-identical to the window functions (integer-derived doubles),
    with no window group larger than ≈ n/(3·256)."""
    o = load_table(spark, sf_dir, "orders")
    ranked = O.grouped_rank(
        o.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        ["o_orderstatus"], F.col("o_totalprice"), F.col("o_orderkey"),
        name="_pos", total_name="_n")
    cheapest = o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", F.struct("o_totalprice", "o_orderkey"))
        .alias("cheapest_key"))
    return ranked.join(F.broadcast(cheapest), "o_orderstatus").select(
        "o_orderkey",
        O.ntile_from_rank(F.col("_pos"), F.col("_n"), 4).alias("quartile"),
        F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
            (F.col("_pos") - 1).cast("double") / (F.col("_n") - 1))
        .alias("pct_rank"),
        (F.col("_pos").cast("double") / F.col("_n")).alias("cume"),
        "cheapest_key",
    )


@query(
    "collect_sorted_list",
    oracle="""
        SELECT c_mktsegment,
               array_to_string(list(c_custkey ORDER BY c_custkey), ',') AS keys_csv,
               len(list(c_custkey)) AS n
        FROM customer
        WHERE c_acctbal < -900
        GROUP BY c_mktsegment
    """,
    tags=("E7", "A1"),
)
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_list) canonicalized by sorting —
    collection order is partition-dependent, so the sort is what makes
    the result well-defined. Rendered as CSV (engine-neutral hashing).
    Scale note: collect_list state is unbounded per group — always
    bound the group size upstream (the filter here)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") < -900)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.sort_array(F.collect_list("c_custkey")), ",")
            .alias("keys_csv"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "systematic_sample",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_orderkey % 100 = 7
    """,
    tags=("F1",),
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1%-ish systematic sample on the key (TABLESAMPLE's
    reproducible cousin — Bernoulli sampling is engine-RNG-specific and
    would never cross-validate; modulo sampling is stable across
    engines, runs, and scale)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 7)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "cum_revenue_by_orderdate",
    # no ORDER BY: the plan does not sort and the oracle comparison sorts both sides
    oracle="""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    OVER (ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_revenue_cents
        FROM orders
    """,
    tags=("E5", "EXT"),
    bench=True,
)
def cum_revenue_by_orderdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running revenue ordered by ORDER DATE — the tie-heavy
    global-cumsum shape: every order placed the same day shares one
    score value, so the date column is a lattice of point masses and
    the plain affine bucketing of ``distributed_prefix_sum`` would push
    whole days through single tasks (at web scale, one hot day = one
    hot task; measured in SCALE.md round 7). Runs the ``tie_split``
    decomposition instead: per-date totals, a distinct-DATE prefix
    (point-mass-free by construction), and a within-date running sum
    range-bucketed on the order key — no corpus-scale window anywhere
    in the plan. Revenue is quantized to integer cents
    (``floor(x*100+0.5)``) so the running sum is exact under
    reordering, per the repo float discipline.

    ``bounded_scores=True``: the distinct
    scores are CALENDAR DAYS, bounded by wall-clock span at any corpus
    size (a century is <37k rows — the forecast_seasonal_naive lint
    precedent), so the cross-date prefix is one window over the
    per-date aggregate and the offsets join back to orders is a
    broadcast; ``tie_bounds`` supplies the global order-key range from
    one raw-scan min/max, replacing the per-day (min, max) groupBy and
    its corpus-side join inside the within-date bucketing (4 orders
    scans and 8 exchanges, where the per-day groupBy plan had 7 and
    13)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .alias("_cents"),
        # injective monotone day index of the TIMESTAMP_NTZ order date
        # (the fixture is midnight-granular: ties of the index are
        # exactly ties of o_orderdate, which tie_split requires)
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("double").alias("_day"))
    out = O.distributed_prefix_sum(
        o, F.col("_day"), F.col("_cents"),
        F.col("o_orderkey"), name="cum_revenue_cents",
        tie_split=F.col("o_orderkey"),
        bounded_scores=True,
        tie_bounds=o.select(F.min("o_orderkey"), F.max("o_orderkey")))
    # no output sort (round-10 advisory, curation_stack precedent): the
    # harness hash is order-insensitive and the range exchange's
    # boundary-sampling pass re-evaluates the whole plan once more
    return out.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "cum_revenue_cents")


@query(
    "running_peak_price_by_orderdate",
    # no ORDER BY: the plan does not sort and the oracle comparison sorts both sides
    oracle="""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    OVER (ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS peak_price_cents
        FROM orders
    """,
    tags=("E5", "EXT"),
    bench=True,
)
def running_peak_price_by_orderdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running PEAK order price ordered by ORDER DATE — the
    tie-heavy prefix-MAX twin of ``cum_revenue_by_orderdate``, and the
    registered strict consumer of the ``distributed_prefix_max``
    ``tie_split`` decomposition (round-7 verdict ask #7: the max-side
    path — per-date maxima, a distinct-DATE exclusive prefix max, a
    within-date running max via ``grouped_prefix_max`` — had only
    pytest + skew-harness evidence; this query gives it an external
    hash-verified row). Every order placed the same day shares one
    score value, so the date column is a lattice of point masses and
    the plain affine bucketing would push whole days through single
    tasks. The INCLUSIVE running peak is the NULL-skipping
    ``greatest`` of the operator's exclusive prefix and the row's own
    value, which also keeps the output NULL-free (an exclusive first
    row is NULL, and a nullable BIGINT round-trips as float64 on the
    DuckDB side — a dtype-skew class this repo's oracles avoid).
    Prices quantized to integer cents per the repo float discipline."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .alias("_cents"),
        # injective monotone day index (midnight-granular fixture:
        # index ties are exactly o_orderdate ties, per tie_split)
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("double").alias("_day"))
    # bounded_scores / tie_bounds: same round-13 rationale as
    # cum_revenue_by_orderdate (calendar-day score domain; global
    # order-key range from one raw-scan min/max)
    out = O.distributed_prefix_max(
        o, F.col("_day"), F.col("_cents"),
        F.col("o_orderkey"), name="_peak_excl",
        tie_split=F.col("o_orderkey"),
        bounded_scores=True,
        tie_bounds=o.select(F.min("o_orderkey"), F.max("o_orderkey")))
    # no output sort — same round-10-advisory grounds as cum_revenue
    return out.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.greatest("_peak_excl", "_cents").alias("peak_price_cents"))
