"""Scale machinery: salted aggregation correctness, bucketed-join
shuffle elimination (asserted on the physical plan, not vibes)."""

from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.functions.exact import dsum
from data_eng_taxi_ibis_dagster_spark.operators.skew import (
    salted_agg,
    write_bucketed,
)
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan, plan_shape
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def _shuffles(df) -> int:
    """Shuffle Exchange nodes (every partitioning) in the final plan."""
    return sum(n for kind, n in plan_shape(physical_plan(df)).items()
               if kind.startswith("Exchange."))


def test_salted_agg_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("l_extendedprice").alias("total"),
             F.max("l_quantity").alias("max_qty"))
    ).toPandas().set_index("l_returnflag").sort_index()
    salted = salted_agg(li, "l_returnflag", {
        "n": ("sum", F.count(F.lit(1))),
        "total": ("sum", F.sum(F.floor(F.col("l_extendedprice") * 100
                                       + F.lit(0.5)))),
        "max_qty": ("max", F.max("l_quantity")),
    }, salt=8).withColumn("total", F.col("total").cast("double") / F.lit(100.0))
    salted = salted.toPandas().set_index("l_returnflag").sort_index()
    assert (plain["n"] == salted["n"]).all()
    assert (plain["total"] == salted["total"]).all()  # decimal merge: exact
    assert (plain["max_qty"] == salted["max_qty"]).all()


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # unbucketed sort-merge join shuffles both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority").count()
        plain.collect()
        n_plain = _shuffles(plain)

        write_bucketed(li.repartition(4), "li_b", key="l_orderkey", buckets=8)
        write_bucketed(orders.repartition(4), "ord_b", key="o_orderkey", buckets=8)
        li_b, ord_b = spark.table("li_b"), spark.table("ord_b")
        bucketed = li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey).groupBy(
            "o_orderpriority").count()
        bucketed.collect()
        n_bucketed = _shuffles(bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    # plain: 2 join-input shuffles + 1 agg shuffle; bucketed: agg only
    assert n_plain >= 3
    assert n_bucketed == 1, f"bucketed join still shuffles ({n_bucketed} exchanges)"
    # and results agree
    a = plain.toPandas().set_index("o_orderpriority").sort_index()
    b = bucketed.toPandas().set_index("o_orderpriority").sort_index()
    assert (a["count"] == b["count"]).all()


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling: a hot key whose partition dwarfs
    the median must be split into parallel sub-partitions at execution
    time — visible as skew=true on the SortMergeJoin in the final
    adaptive plan. This is the no-code-change answer to join skew at
    scale (salting covers the aggregation case)."""
    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor":
            conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # shrink thresholds so the tiny local fixture counts as "skewed"
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # 50k rows on ONE hot key + 1k spread over 1k keys
        left = spark.range(50_000).select(
            F.when(F.col("id") < 49_000, F.lit(7)).otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(2_000).select(
            (F.col("id") % 1000).alias("k"),
            F.lit("r").alias("tag"),
        )
        # aggregate over pad too — otherwise column pruning drops it and
        # the hot partition (49k constant longs) compresses under the
        # 16KB skew threshold
        joined = (left.join(right, "k")
                  .groupBy("tag")
                  .agg(F.count("*").alias("count"),
                       F.max("pad").alias("maxpad")))
        # run THIS DataFrame's own query execution so its AQE plan
        # finalizes (a write/noop action plans a separate execution)
        joined.collect()
        plan = physical_plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)
