"""Second LLM/advanced batch: embedding-cosine near-dup, deterministic
IVF similarity, unpivot, correlated subqueries, dense time-series
gap-fill."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.functions.exact import lsum, sql_lsum
from data_eng_taxi_ibis_dagster_spark.operators import pq as PQ
from data_eng_taxi_ibis_dagster_spark.operators import similarity as S
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


@query(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {S.sql_cosine('a.embedding', 'b.embedding')} AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE {S.sql_cosine('a.embedding', 'b.embedding')} >= 0.4
    """,
    tags=("E10", "E11"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold join), via the EXACT
    blocked self-join (operators.similarity.cosine_threshold_pairs_
    blocked): nearest-centroid blocking + triangle-inequality block-pair
    pruning + equi-join candidates. Zero false negatives, so the result
    is bit-identical to the all-pairs oracle — but the corpus is never
    broadcast and per-task memory is bounded by block size, not corpus
    size. n_blocks derives from the corpus count at plan build (the
    k-scaling contract; see the operator docstring): at every fixture
    SF the derived value is 8."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_threshold_pairs_blocked(e, 0.4)


def ivf_topk(e: DataFrame, *, n_centroids: int = 8, nprobe: int = 2,
             k: int = 10) -> DataFrame:
    """The IVF pipeline shared by the production query
    (``similarity_ivf``, nprobe=2) and the strict audit twin
    (``similarity_ivf_audit``, nprobe=n_centroids ⇒ provably exact) —
    one implementation, so a regression in assignment, probe-list join
    or re-rank breaks the hash-checked audit. The quantizer and list
    assignment are operators/pq.py's, the cut is ``similarity._topk``.
    Each vector sits in exactly one list and a query's probes are
    distinct, so no candidate pair repeats."""
    cents = PQ.coarse_centroids(e, n_centroids=n_centroids)
    corpus = PQ.assign_lists(e, cents, "match_id", "mv", 1)
    queries_df = PQ.assign_lists(e.filter(F.col("vec_id") < 5), cents,
                                 "query_id", "qv", nprobe)
    cands = (
        queries_df.join(corpus, "centroid_id")
        .filter(F.col("query_id") != F.col("match_id"))
    )
    return S._topk(
        cands.select("query_id", "match_id",
                     S.cosine(F.col("qv"), F.col("mv")).alias("cosine_sim")),
        k).orderBy("query_id", "rnk")


@query(
    "similarity_ivf",
    oracle=None,  # centroid assignment is engine-internal → rows-only
    tags=("E11",),
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (the 8 lowest-id
    vectors are the centroids — no RNG, no fitted model), vectors
    assigned to their nearest centroid (inverted lists), queries probe
    the 2 nearest lists only, exact cosine re-rank inside. The
    probe-list join replaces the full scan — the IVF scale shape with
    none of the training nondeterminism. Emits (query_id, match_id,
    cosine_sim, rnk)."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(e, n_centroids=8, nprobe=2, k=10)


@query(
    "unpivot_order_measures",
    oracle="""
        SELECT o_orderkey, measure, val
        FROM (
            SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
            UNION ALL
            SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val FROM orders
        )
        WHERE o_orderkey < 100
    """,
    tags=("E6",),
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the melt shape) via the native unpivot
    operator — no row explosion through Python, constant memory."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    ).unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "val")


@query(
    "correlated_scalar_subquery",
    oracle="""
        SELECT c.c_custkey, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                       AS DOUBLE)
                       / CAST(100 AS DOUBLE) / COUNT(o.o_totalprice) / 100.0
            FROM orders o WHERE o.o_custkey = c.c_custkey
        )
    """,
    tags=("Q2", "E1"),
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery — Catalyst decorrelates it
    into an aggregate + join (no per-row re-execution; the 100 TB-safe
    rewrite happens in the optimizer, as it should)."""
    from data_eng_taxi_ibis_dagster_spark.sources.tables import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql("""
        SELECT c.c_custkey, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                       AS DOUBLE)
                       / CAST(100 AS DOUBLE) / COUNT(o.o_totalprice) / 100.0
            FROM orders o WHERE o.o_custkey = c.c_custkey
        )
    """)


@query(
    "events_hourly_dense",
    oracle=f"""
        WITH bounds AS (
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, min(ts))) AS lo,
                   epoch_us(time_bucket(INTERVAL 1 HOUR, max(ts))) AS hi
            FROM events
        ), scaffold AS (
            SELECT unnest(generate_series(lo, hi, 3600000000)) AS ws_us FROM bounds
        ), agg AS (
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws_us,
                   COUNT(*) AS n_events,
                   {sql_lsum('value')} AS total_value
            FROM events GROUP BY 1
        )
        SELECT s.ws_us,
               COALESCE(a.n_events, 0) AS n_events,
               COALESCE(a.total_value, 0.0) AS total_value
        FROM scaffold s LEFT JOIN agg a ON s.ws_us = a.ws_us
    """,
    tags=("E14", "E7"),
)
def events_hourly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (the hypertable/resample shape): a
    sequence() scaffold of every hour between min and max joined to the
    sparse aggregate, empty hours zero-filled. The scaffold generates
    distributed (explode of a sequence — no driver loop)."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3600 * 1000 * 1000
    # integer DIV, not floor(double /): ts_us exceeds double's exact
    # integer range after division rounding — stay in long arithmetic
    bucket = (F.expr(f"ts_us DIV {hour_us}") * hour_us).alias("ws_us")
    agg = (
        ev.groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_events"),
             lsum("value").alias("total_value"))
    )
    bounds = ev.select(bucket).agg(
        F.min("ws_us").alias("lo"), F.max("ws_us").alias("hi"))
    scaffold = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(hour_us))).alias("ws_us"))
    return (
        scaffold.join(agg, "ws_us", "left")
        .select(
            "ws_us",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )
