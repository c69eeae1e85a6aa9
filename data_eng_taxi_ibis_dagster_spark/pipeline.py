"""Asset-DAG orchestration (SURVEY.md §2a O1/O2/O3).

The reference orchestrates ingest → export → analyse as a Dagster asset
graph with explicit deps and structured Loguru logging of row counts,
file sizes and wall-clock (``/root/reference/taxi_pipeline_native.py:
26-191``, ``taxi_pipeline.py:155-165``). Dagster itself is
infrastructure, not query capability — what the engine needs is the
*semantics*: named assets, dependency ordering, one materialization per
run, per-asset observability. This module provides exactly that as a
dependency-free mini-framework: an ``@asset`` decorator + a topological
runner.

Each asset runs its data once. A DataFrame asset ends in one action, a
``localCheckpoint`` whose row count is an ``Observation`` on that same
job, and its consumers read the checkpoint instead of re-deriving the
lineage; a sink asset's ``WriteReport`` already carries the rows it
wrote. So an asset's logged time includes its execution, and nothing
runs after it to count rows.

Unlike the reference, assets share ONE SparkSession (the reference
stops and restarts the JVM per asset — a measurement and latency bug we
deliberately do not reproduce), and asset handoff is in-memory
checkpoints rather than files, though file handoff (parquet) remains the
default between *pipelines* for restartability at scale.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_eng_taxi_ibis_dagster_spark.sources.sinks import WriteReport, observe_rows

logger = logging.getLogger("data_eng_taxi_ibis_dagster_spark.pipeline")


@dataclass(frozen=True)
class Asset:
    name: str
    fn: Callable[..., Any]
    deps: tuple[str, ...] = ()
    compute_kind: str = "pyspark"
    description: str = ""


@dataclass
class AssetResult:
    name: str
    value: Any
    seconds: float
    rows: int | None = None


@dataclass
class Definitions:
    """A named collection of assets — the runnable pipeline."""

    assets: dict[str, Asset] = field(default_factory=dict)

    def asset(self, *, deps: tuple[str, ...] = (), compute_kind: str = "pyspark",
              name: str | None = None) -> Callable:
        """Register a function as an asset. The function receives the
        SparkSession and the materialized values of its declared deps,
        in declaration order. The registered ``Asset.fn`` runs it and
        then the asset's one action, returning ``(value, rows)``."""

        def deco(fn: Callable) -> Callable:
            asset_name = name or fn.__name__
            if asset_name in self.assets:
                raise ValueError(f"duplicate asset: {asset_name}")
            self.assets[asset_name] = Asset(
                name=asset_name, fn=_run_once(fn), deps=tuple(deps),
                compute_kind=compute_kind,
                description=(fn.__doc__ or "").strip(),
            )
            return fn

        return deco

    def order(self) -> list[str]:
        ts = TopologicalSorter({n: set(a.deps) for n, a in self.assets.items()})
        return list(ts.static_order())

    def materialize(self, spark: SparkSession,
                    selection: list[str] | None = None) -> dict[str, AssetResult]:
        """Run assets in dependency order (the reference's ``dagster
        materialize``), logging per-asset wall-clock (build and
        execution) and row counts — the O2 observability contract."""
        wanted = set(selection or self.assets)
        # pull in transitive deps of the selection
        frontier = list(wanted)
        while frontier:
            for dep in self.assets[frontier.pop()].deps:
                if dep not in wanted:
                    wanted.add(dep)
                    frontier.append(dep)

        results: dict[str, AssetResult] = {}
        for name in self.order():
            if name not in wanted:
                continue
            asset = self.assets[name]
            dep_values = [results[d].value for d in asset.deps]
            start = time.perf_counter()
            try:
                value, rows = asset.fn(spark, *dep_values)
            except Exception:
                logger.exception("asset %s failed", name)
                raise
            seconds = time.perf_counter() - start
            results[name] = AssetResult(name, value, seconds, rows)
            logger.info(
                "asset %s (%s) materialized in %.2fs%s",
                name, asset.compute_kind, seconds,
                f", rows={rows}" if rows is not None else "",
            )
        return results


def _run_once(fn: Callable[..., Any]) -> Callable[..., tuple[Any, int | None]]:
    """Wrap an asset function with the asset's one action: a DataFrame
    result is checkpointed with its row count observed on the same job;
    a sink's ``WriteReport`` carries its rows already."""

    def run(spark: SparkSession, *deps: Any) -> tuple[Any, int | None]:
        value = fn(spark, *deps)
        if isinstance(value, DataFrame):
            value, obs = observe_rows(value)
            return value.localCheckpoint(eager=True), obs.get["rows"]
        return value, value.rows if isinstance(value, WriteReport) else None

    return run


def training_data_definitions(sf_dir: str, out_dir: str, *,
                              quality_min: float = 0.3,
                              near_dup_threshold: float = 0.6) -> Definitions:
    """LLM training-data prep as an asset DAG over ``documents``:

        ingest → quality/language annotate → filter → classifier gate
        → exact dedup → near dedup (MinHash clusters → canonical pick)
        → semantic dedup (SemDeDup over the embedding table)
        → corpus stats / mixture sample / clustered export
        → IVF-PQ vector index over the surviving embeddings

    This is the 100 TB shape of the pipeline: every stage is a
    DataFrame transformation (no driver-side loops); exact dedup is one
    hash shuffle on the text fingerprint; near-dup candidates come from
    LSH band buckets (no all-pairs); the export is range-clustered by
    doc_id so downstream shard reads prune. Stage handoff is in-memory
    here, parquet between pipelines.
    """
    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        dedup_clusters,
        exact_dedup,
        minhash_near_dup_pairs,
    )
    from data_eng_taxi_ibis_dagster_spark.operators.text import (
        bpe_token_count,
        hashed_linear_score_num,
        lang_pred,
        quality_score,
        tokens,
    )
    from data_eng_taxi_ibis_dagster_spark.sources.sinks import write_clustered
    from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

    defs = Definitions()

    @defs.asset(compute_kind="pyspark")
    def ingest_docs(spark: SparkSession) -> DataFrame:
        return load_table(spark, sf_dir, "documents")

    @defs.asset(deps=("ingest_docs",), compute_kind="pyspark")
    def annotate(spark: SparkSession, docs: DataFrame) -> DataFrame:
        """Single-pass annotation: language guess, quality score, token
        count — all JVM-side column expressions, no UDF."""
        return docs.select(
            "doc_id", "text", "lang", "source",
            lang_pred(tokens("text")).alias("lang_guess"),
            quality_score("text").alias("quality"),
            bpe_token_count("text").alias("n_tokens"),
        )

    @defs.asset(deps=("annotate",), compute_kind="pyspark")
    def filter_docs(spark: SparkSession, annotated: DataFrame) -> DataFrame:
        """Quality gate. Filters are plain predicates — at scale they
        push into the scan when this stage runs from parquet."""
        return annotated.filter(F.col("quality") >= quality_min)

    @defs.asset(deps=("filter_docs",), compute_kind="pyspark")
    def classifier_gate(spark: SparkSession, kept: DataFrame) -> DataFrame:
        """Model-based curation gate: hashed-feature linear score
        (fastText-style; same expression as the oracle-checked
        plans/llm15.quality_classifier_linear), mean weight per token
        ≥ 0.5. Row-local integer fold — no shuffle, no Python."""
        score = hashed_linear_score_num("text")
        return kept.filter(
            score.cast("double") / F.size(tokens("text")) >= F.lit(0.5))

    @defs.asset(deps=("classifier_gate",), compute_kind="pyspark")
    def drop_exact_dups(spark: SparkSession, kept: DataFrame) -> DataFrame:
        keep = exact_dedup(kept).select(F.col("keep_doc_id").alias("doc_id"))
        return kept.join(keep, "doc_id", "left_semi")

    @defs.asset(deps=("drop_exact_dups",), compute_kind="pyspark")
    def drop_near_dups(spark: SparkSession, uniq: DataFrame) -> DataFrame:
        """MinHash-LSH near-dup clusters → keep each cluster's canonical
        (min doc_id) member. Docs in no cluster pass through (anti-join
        against the non-canonical set, so the big side streams)."""
        pairs = minhash_near_dup_pairs(uniq, threshold=near_dup_threshold)
        clusters = dedup_clusters(pairs)
        losers = clusters.filter(
            F.col("doc_id") != F.col("canonical_id")).select("doc_id")
        return uniq.join(losers, "doc_id", "left_anti")

    @defs.asset(deps=("drop_near_dups",), compute_kind="pyspark")
    def corpus_stats(spark: SparkSession, corpus: DataFrame) -> DataFrame:
        """Observability: per-language doc/token counts + quality mean."""
        return corpus.groupBy("lang_guess").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.avg("quality").alias("mean_quality"),
        )

    @defs.asset(deps=("drop_near_dups",), compute_kind="pyspark")
    def mixture_sample(spark: SparkSession, corpus: DataFrame) -> DataFrame:
        """Token-weighted A-ES sample of the cleaned corpus (the
        mixture-construction stage): deterministic md5 uniforms,
        priority ln(u)/n_tokens, top-k via TakeOrderedAndProject —
        row-local expression, no shuffle (plans/llm4.weighted_sample_aes
        is the oracle-checked twin of this stage)."""
        from data_eng_taxi_ibis_dagster_spark.operators.sampling import (
            aes_priority,
        )

        key = aes_priority(F.col("doc_id"), F.col("n_tokens"))
        return (
            corpus.select("doc_id", "text", "n_tokens", key.alias("_key"))
            .orderBy(F.col("_key").desc(), F.col("doc_id"))
            .limit(100)
            .drop("_key")
        )

    @defs.asset(deps=("drop_near_dups",), compute_kind="pyspark")
    def export_corpus(spark: SparkSession, corpus: DataFrame):
        return write_clustered(corpus, f"{out_dir}/corpus",
                               cluster_by="doc_id", files_per_partition=2)

    @defs.asset(compute_kind="pyspark")
    def ingest_embeddings(spark: SparkSession) -> DataFrame:
        return load_table(spark, sf_dir, "embeddings")

    @defs.asset(deps=("drop_near_dups", "ingest_embeddings"),
                compute_kind="pyspark")
    def semantic_dedup(spark: SparkSession, corpus: DataFrame,
                       emb: DataFrame) -> DataFrame:
        """SemDeDup stage (Abbas et al. 2023): drop surviving docs
        whose embedding is a semantic near-copy of a lower-id one —
        catches paraphrases the text-hash stages cannot. Pairwise work
        stays inside k-means clusters (operators/similarity.semdedup);
        the doc relation only anti-joins the pruned-id set."""
        from data_eng_taxi_ibis_dagster_spark.operators.similarity import (
            semdedup,
        )

        # restrict to SURVIVORS' embeddings first: a doc removed by an
        # earlier gate must not act as the lower-id "keeper" (that
        # would drop its surviving twin while keeping neither —
        # violating keep-one-representative semantics)
        kept_emb = emb.join(
            corpus.select(F.col("doc_id").alias("vec_id")), "vec_id",
            "left_semi")
        pruned = semdedup(kept_emb, threshold=0.99, k=4, iters=1) \
            .filter(F.col("is_dup")) \
            .select(F.col("vec_id").alias("doc_id"))
        return corpus.join(pruned, "doc_id", "left_anti")

    @defs.asset(deps=("semantic_dedup", "ingest_embeddings"),
                compute_kind="pyspark")
    def vector_index(spark: SparkSession, corpus: DataFrame,
                     emb: DataFrame):
        """Retrieval-ready artifact: IVF-PQ index over the surviving
        documents' embeddings (operators/pq.write_ivfpq_index —
        inverted lists as partitionBy(centroid_id) parquet, codebook +
        coarse centroids as side tables). Downstream similarity
        search partition-prunes its probes and scans code bytes, not
        vectors."""
        from data_eng_taxi_ibis_dagster_spark.operators.pq import (
            train_codebooks_lloyd,
            write_ivfpq_index,
        )

        kept = emb.join(
            corpus.select(F.col("doc_id").alias("vec_id")), "vec_id",
            "left_semi")
        book = train_codebooks_lloyd(kept, m=8, dim=64, k=16, iters=1)
        write_ivfpq_index(kept, book, f"{out_dir}/vector_index",
                          n_centroids=4)
        return spark.read.parquet(f"{out_dir}/vector_index/lists")

    return defs


def taxi_pipeline_definitions(sf_dir: str, out_dir: str) -> Definitions:
    """The reference pipeline rebuilt: ingest a parquet glob into a
    managed table, export it back to parquet, analyse it via both the
    DataFrame and SQL entry points (ingest → export → analyse DAG,
    reference ``taxi_pipeline_native.py:180-191``)."""
    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.functions.exact import davg
    from data_eng_taxi_ibis_dagster_spark.sources.sinks import export_parquet
    from data_eng_taxi_ibis_dagster_spark.sources.tables import scan_parquet

    defs = Definitions()

    @defs.asset(compute_kind="pyspark")
    def ingest_trips(spark: SparkSession) -> DataFrame:
        """S1/K1: glob-scan the source parquet into the working table
        (a checkpoint here; saveAsTable in a warehouse deployment)."""
        return scan_parquet(spark, f"{sf_dir}/lineitem.parquet")

    @defs.asset(deps=("ingest_trips",), compute_kind="pyspark")
    def export_trips(spark: SparkSession, trips: DataFrame):
        """K2: export the unified table as parquet (multi-part; the
        reference's single-file COPY is available via single_file=True)."""
        return export_parquet(trips, f"{out_dir}/trips_export")

    @defs.asset(deps=("ingest_trips",), compute_kind="pyspark")
    def analyse_dataframe(spark: SparkSession, trips: DataFrame) -> DataFrame:
        """The flagship analysis, DataFrame path."""
        return (
            trips.filter(F.col("l_extendedprice") > 30000)
            .groupBy("l_quantity")
            .agg(davg("l_extendedprice").alias("avg_price"))
        )

    @defs.asset(deps=("ingest_trips",), compute_kind="spark_sql")
    def analyse_sql(spark: SparkSession, trips: DataFrame) -> DataFrame:
        """The flagship analysis, SQL path over a view of the working
        table."""
        trips.createOrReplaceTempView("trips")
        return spark.sql("""
            SELECT l_quantity,
                   CAST(CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                       AS BIGINT) AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
                       / CAST(100 AS DOUBLE)
                       / COUNT(l_extendedprice) AS avg_price
            FROM trips
            WHERE l_extendedprice > 30000
            GROUP BY l_quantity
        """)

    return defs
