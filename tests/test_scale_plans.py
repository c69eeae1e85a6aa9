"""Scale-feature plan evidence: dynamic partition pruning and runtime
bloom-filter join pruning.

Neither changes query *results* — both are Catalyst runtime-pruning
strategies that only matter (and only show up) with the right physical
layout, so they are asserted on the physical plan itself, the same way
PLANS.md documents pushdown/broadcast/WindowGroupLimit shapes. At 100 TB
these two are the difference between scanning a partition's worth of a
fact table and scanning all of it.
"""

import pytest
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A fact table partitioned on the join key + a filtered dim side
    must plan a dynamicpruning partition filter on the fact scan: the
    dim's broadcast result prunes fact *partitions* at runtime, before
    any fact bytes are read."""
    path = str(tmp_path / "orders_by_priority")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)

    dim = (
        orders.select(F.col("o_orderpriority").alias("p")).distinct()
        .filter(F.col("p").startswith("1"))
    )
    joined = (
        fact.join(dim, fact.o_orderpriority == dim.p)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan, plan
    # The pruned scan must be the partitioned fact table's.
    assert "PartitionFilters" in plan

    # And it must still compute the right answer.
    n = joined.collect()[0]["n"]
    expected = orders.filter(F.col("o_orderpriority").startswith("1")).count()
    assert n == expected


def test_runtime_bloom_filter_join(spark, sf_dir):
    """With broadcast off (large-large join), a selective creation side
    must inject a bloom filter (bloom_filter_agg / might_contain) on the
    probe side: at scale this drops most probe rows before the shuffle
    instead of after it."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Fixture tables are far below the 10 GB production threshold;
        # drop it so the injection logic is exercised at test scale.
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")

        line = load_table(spark, sf_dir, "lineitem")
        sel = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500000)
        joined = (
            line.join(sel, line.l_orderkey == sel.o_orderkey)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = physical_plan(joined)
        assert "might_contain" in plan, plan

        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders")
                .filter(F.col("o_totalprice") > 500000),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.collect()[0]["n"] == expected
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout: every output file covers a small rectangle of
    the (l_orderkey, l_partkey) space, so min/max file pruning works
    for predicates on EITHER column — the multi-dimension counterpart
    of single-key clustering. Asserted as: the average per-file range
    on each dimension is a small fraction of the global range (an
    unclustered layout has every file spanning ~the full range)."""
    import glob as g

    from data_eng_taxi_ibis_dagster_spark.sources.sinks import write_zorder

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    path = str(tmp_path / "li_z")
    report = write_zorder(li, path, cols=("l_orderkey", "l_partkey"),
                          files=16)
    assert report.rows == li.count()
    files = sorted(g.glob(f"{path}/part-*.parquet"))
    assert len(files) == 16

    from pyspark.sql import functions as F
    glob_lo_o, glob_hi_o, glob_lo_p, glob_hi_p = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    span_o = glob_hi_o - glob_lo_o
    span_p = glob_hi_p - glob_lo_p

    frac_o, frac_p = [], []
    for f in files:
        lo_o, hi_o, lo_p, hi_p = spark.read.parquet(f).agg(
            F.min("l_orderkey"), F.max("l_orderkey"),
            F.min("l_partkey"), F.max("l_partkey")).collect()[0]
        frac_o.append((hi_o - lo_o) / span_o)
        frac_p.append((hi_p - lo_p) / span_p)

    # With 16 files on a 2-D curve (4×4 grid), each file's rectangle
    # should span roughly 1/4 of each dimension; allow generous slack.
    assert sum(frac_o) / len(frac_o) < 0.6, frac_o
    assert sum(frac_p) / len(frac_p) < 0.6, frac_p


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The three join-strategy hints must reach the physical plan:
    broadcast, shuffle_hash, and merge. At scale these are the manual
    overrides when stats mislead the planner."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    bc = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in physical_plan(bc)

    sh = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in physical_plan(sh)

    mg = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in physical_plan(mg)


def test_cbo_table_stats_via_analyze(spark, sf_dir, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS feeds the cost-based optimizer:
    after analysis the catalog reports row counts/sizes, which CBO uses
    for broadcast decisions and join reordering when AQE's runtime
    stats aren't available (first stage of a pipeline)."""
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").saveAsTable("nation_stats_test")
    try:
        spark.sql("ANALYZE TABLE nation_stats_test COMPUTE STATISTICS")
        desc = spark.sql(
            "DESCRIBE EXTENDED nation_stats_test").toPandas()
        stats_row = desc[desc["col_name"] == "Statistics"]
        assert not stats_row.empty
        assert "rows" in stats_row["data_type"].iloc[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_stats_test")


@pytest.mark.parametrize("name", [
    "dedup_edit_distance",
    "dedup_ngram_jaccard",
    # dedup_cluster_audit shares winnow_candidate_pairs but its CC loop
    # runs EAGERLY at plan build — the returned plan is a
    # localCheckpoint scan, so the capped candidate stage (which
    # already executed) cannot appear in the plan string; the shared
    # core is pinned through the two names above.
])
def test_pair_stage_is_winnow_blocked(spark, sf_dir, name):
    """Round 9: the exact pair verifiers block on the df-capped
    winnowing fingerprint, never on corpus metadata. Two plan
    invariants make the pair stage bounded BY CONSTRUCTION:

    1. the candidate join keys on the fingerprint column ``f`` (a
       high-entropy content hash — per-key output is capped, so AQE
       coalescing is safe without a salt), and
    2. the df-cap window filter (count per f ≤ WINNOW_MAX_DF) sits
       between fingerprinting and the self-join, so no key can emit
       more than max_df·(max_df−1)/2 pairs no matter how the corpus
       grows — the former `source` key's block size grew linearly
       with corpus and its pair output quadratically."""
    import re

    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        WINNOW_MAX_DF,
    )
    from data_eng_taxi_ibis_dagster_spark.plans.registry import get

    plan = physical_plan(get(name).builder(spark, sf_dir))
    # the self-join keys on the fingerprint, not on metadata
    assert re.search(r"hashpartitioning\(_wf#\d+", plan), (
        f"{name}: pair join no longer keyed on the winnowing "
        f"fingerprint:\n" + plan[:1500])
    assert "source" not in plan.lower().replace("datasource", ""), (
        f"{name}: metadata block key leaked back into the pair plan")
    # the df-cap filter bounds every block before the join
    assert re.search(rf"_df#\d+L? <= {WINNOW_MAX_DF}\)", plan), (
        f"{name}: hot-fingerprint df-cap filter missing — block size "
        f"is unbounded:\n" + plan[:1500])


def test_winnow_block_recall(spark, sf_dir):
    """The winnowing block's recall contract on the gate fixture: the
    fingerprint-blocked exact-Jaccard pair set EQUALS the global
    all-pairs truth at the query threshold (any shared run of
    ≥ w+k−1 = 11 tokens shares a fingerprint; fixture near-dups share
    long runs). Candidate generation may safely prune — it must never
    lose a true pair."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        jaccard_verify,
        pairwise_jaccard,
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = winnow_candidate_pairs(winnow_fingerprints(d))
    blocked = jaccard_verify(cands, d, threshold=0.5).toPandas()
    # global truth: unblocked all-pairs (fixture-sized corpora only)
    truth = pairwise_jaccard(d, threshold=0.5).toPandas()
    b = set(zip(blocked["doc_a"], blocked["doc_b"]))
    t = set(zip(truth["doc_a"], truth["doc_b"]))
    assert b == t, (f"winnow-blocked pairs diverge from global truth: "
                    f"missing={t - b}, extra={b - t}")


def test_winnow_fingerprint_df_bounded(spark, sf_dir):
    """Empirical companion to the plan pin: on the gate fixture the
    winnowing-fingerprint document frequency stays far below the cap
    (max df 3-4 at sf0.01/sf0.1 — planted near-dup cluster size), so
    the df-cap drops NO fixture fingerprints (recall unaffected) while
    bounding adversarial/boilerplate keys at scale."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        WINNOW_MAX_DF,
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(d)
    max_df = (fps.groupBy("f").count().agg(F.max("count").alias("m"))
              .collect()[0]["m"])
    assert max_df <= WINNOW_MAX_DF // 4, (
        f"fixture max fingerprint df {max_df} is within 4x of the cap "
        f"{WINNOW_MAX_DF} — the cap would start costing recall; "
        f"re-derive the regime")
