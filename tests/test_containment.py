"""Semantic + plan-shape checks for shingle-containment dedup
(plans/llm18.py). Engine parity is covered by test_parity.py; these
assert the meaning — every planted prefix-truncated twin that survives
the df cap scores containment EXACTLY 1.0 with the twin's full capped
shingle set as the intersection — and the scale shape (equi-join
candidates only, never a cross product)."""

from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.plans.llm18 import dedup_containment
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan


def test_planted_twins_score_exactly_one(spark, sf_dir):
    res = dedup_containment(spark, sf_dir)
    twins = res.filter(F.col("doc_b") == F.col("doc_a") + 1000000).collect()
    assert twins, "no planted prefix-twin pairs survived"
    for r in twins:
        # A token prefix's shingles are a subset of its source's, and
        # the df cap filters the same shingles on both sides — so the
        # intersection IS the twin's capped set and containment is 1.0.
        assert r.inter_size == r.size_b, r
        assert r.size_b <= r.size_a, r
        assert r.containment == 1.0, r


def test_threshold_is_exact_integer_compare(spark, sf_dir):
    rows = dedup_containment(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 10 * r.inter_size >= 9 * min(r.size_a, r.size_b), r
        assert r.inter_size <= min(r.size_a, r.size_b), r


def test_pair_join_is_equi_not_cross(spark, sf_dir):
    plan = physical_plan(dedup_containment(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_balanced_sample_caps_and_ranks(spark, sf_dir):
    from data_eng_taxi_ibis_dagster_spark.plans.llm18 import (
        cluster_balanced_sample,
    )

    rows = cluster_balanced_sample(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert set(by_cluster) <= set(range(4))
    for cid, rs in by_cluster.items():
        assert len(rs) <= 25
        rs.sort(key=lambda r: r.pick_rank)
        assert [r.pick_rank for r in rs] == list(range(1, len(rs) + 1))
    # deterministic: a second plan returns the identical selection
    again = {(r.cluster_id, r.vec_id, r.pick_rank)
             for r in cluster_balanced_sample(spark, sf_dir).collect()}
    assert again == {(r.cluster_id, r.vec_id, r.pick_rank) for r in rows}
