"""O1/O2 orchestration semantics: dependency ordering, selection with
transitive deps, per-asset observability, and the reference pipeline's
DataFrame-vs-SQL result equivalence."""

import pandas as pd
import pytest
from pyspark.sql import DataFrame

from data_eng_taxi_ibis_dagster_spark.pipeline import (
    Definitions,
    taxi_pipeline_definitions,
)


def test_dependency_order_and_results(spark, sf_dir, tmp_path):
    defs = taxi_pipeline_definitions(sf_dir, str(tmp_path))
    results = defs.materialize(spark)
    names = list(results)
    assert names.index("ingest_trips") < names.index("export_trips")
    assert names.index("ingest_trips") < names.index("analyse_dataframe")
    # observability: timings + row counts recorded
    assert all(r.seconds >= 0 for r in results.values())
    assert results["ingest_trips"].rows == 6000
    assert results["export_trips"].value.rows == 6000
    _assert_rows_match_values(results)
    # the reference's engine-equivalence thesis: DF path == SQL path
    df_res = results["analyse_dataframe"].value.toPandas().sort_values("l_quantity").reset_index(drop=True)
    sql_res = results["analyse_sql"].value.toPandas().sort_values("l_quantity").reset_index(drop=True)
    pd.testing.assert_frame_equal(df_res, sql_res)


def _assert_rows_match_values(results):
    for r in results.values():
        if isinstance(r.value, DataFrame):
            assert r.rows == r.value.count(), r.name


def test_asset_lineage_runs_once(spark):
    """A DataFrame asset's lineage runs exactly once per materialize:
    its row count is observed on the one action that materializes it,
    and its consumers read that materialization instead of re-deriving
    it. Every evaluation of the source rows bumps an accumulator."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(x):
        seen.add(1)
        return True

    defs = Definitions()

    @defs.asset()
    def source(spark):
        return spark.range(0, 100, numPartitions=2).filter(keep("id"))

    @defs.asset(deps=("source",))
    def evens(spark, src):
        return src.filter(F.col("id") % 2 == 0)

    @defs.asset(deps=("source",))
    def total(spark, src):
        return src.agg(F.sum("id").alias("s"))

    results = defs.materialize(spark)
    assert results["evens"].value.count() == 50
    assert results["total"].value.collect()[0]["s"] == 4950
    assert results["source"].rows == 100
    assert seen.value == results["source"].rows


def test_selection_pulls_transitive_deps(spark, sf_dir, tmp_path):
    defs = taxi_pipeline_definitions(sf_dir, str(tmp_path))
    results = defs.materialize(spark, selection=["analyse_sql"])
    assert set(results) == {"ingest_trips", "analyse_sql"}


def test_cycle_detection(spark):
    defs = Definitions()

    @defs.asset(deps=("b",))
    def a(spark):
        return None

    @defs.asset(deps=("a",), name="b")
    def b_fn(spark):
        return None

    with pytest.raises(Exception):
        defs.materialize(spark)


def test_failure_propagates(spark):
    defs = Definitions()

    @defs.asset()
    def boom(spark):
        raise RuntimeError("asset blew up")

    with pytest.raises(RuntimeError, match="asset blew up"):
        defs.materialize(spark)


def test_training_data_pipeline_end_to_end(spark, sf_dir, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.pipeline import (
        training_data_definitions,
    )

    defs = training_data_definitions(sf_dir, str(tmp_path))
    results = defs.materialize(spark)
    n_ingested = results["ingest_docs"].rows
    n_filtered = results["filter_docs"].rows
    n_gated = results["classifier_gate"].rows
    n_exact = results["drop_exact_dups"].rows
    n_final = results["drop_near_dups"].rows
    assert n_ingested > 0
    # each stage only removes rows
    assert n_ingested >= n_filtered >= n_gated >= n_exact >= n_final > 0
    # the classifier gate must actually discriminate on the fixture
    assert n_gated < n_filtered
    # the fixture plants exact + near duplicates: both stages must bite
    assert n_exact < n_filtered or n_final < n_exact
    _assert_rows_match_values(results)
    stats = results["corpus_stats"].value.toPandas()
    assert stats["n_docs"].sum() == n_final
    assert (stats["n_tokens"] > 0).all()
    report = results["export_corpus"].value
    assert report.rows == n_final
    exported = spark.read.parquet(f"{tmp_path}/corpus")
    assert exported.count() == n_final
    assert set(exported.columns) >= {"doc_id", "text", "quality", "n_tokens"}
    # mixture sample: ≤100 docs, all survivors, deterministic
    sample = results["mixture_sample"].value
    pdf = sample.toPandas()
    assert 0 < len(pdf) <= 100
    assert pdf["doc_id"].isin(exported.toPandas()["doc_id"]).all()
    again = sample.toPandas()
    assert sorted(pdf["doc_id"]) == sorted(again["doc_id"])


def test_vector_tier_assets(spark, sf_dir, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.pipeline import (
        training_data_definitions,
    )

    defs = training_data_definitions(sf_dir, str(tmp_path))
    results = defs.materialize(spark)
    n_near = results["drop_near_dups"].rows
    n_sem = results["semantic_dedup"].rows
    assert 0 < n_sem <= n_near  # semantic stage only removes rows
    lists = results["vector_index"].value
    # one inverted-list row per surviving embedding, partitioned layout
    assert lists.count() == spark.read.parquet(
        f"{tmp_path}/vector_index/lists").count()
    assert set(lists.columns) == {"match_id", "codes", "centroid_id"}
    import os
    parts = [d for d in os.listdir(f"{tmp_path}/vector_index/lists")
             if d.startswith("centroid_id=")]
    assert len(parts) >= 2  # physically partitioned by list
    assert os.path.isdir(f"{tmp_path}/vector_index/codebook")
    assert os.path.isdir(f"{tmp_path}/vector_index/centroids")
