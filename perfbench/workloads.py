"""The benchmark's workloads: what one op is, how it warms up, and how
its outputs are checked.

An op is one pipeline run (``pipeline_dags``) or one query
(``analytics_queries``). Checks run outside the timed window and report
problems as strings; every problem counts as a failed op.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import Tracer, process_tree_cpu_s

#: The oracle-checked registry queries of ``analytics_queries``: the four
#: ``operators.order`` users that form the slow tail, the query whose plan
#: build dominates (``join_bloom_prefilter``), a KMV query with its memo
#: cache, and four relational or event queries led by the reference's
#: flagship. Ten, so a cold checked pass, a warm pass and two measured
#: passes fit a run.
ANALYTICS_QUERIES = (
    "cum_revenue_by_orderdate", "running_peak_price_by_orderdate",
    "weighted_median_price", "skyline_pareto_parts",
    "join_bloom_prefilter", "kmv_churned_users_daily",
    "flagship_avg_price", "pricing_summary", "shipping_priority",
    "events_asof_purchase_click",
)

TAXI_ASSETS = ("ingest_trips", "export_trips", "analyse_dataframe", "analyse_sql")
CURATION_ASSETS = ("ingest_docs", "ingest_embeddings", "annotate", "filter_docs",
                   "classifier_gate", "drop_exact_dups", "drop_near_dups",
                   "corpus_stats", "mixture_sample", "export_corpus",
                   "semantic_dedup", "vector_index")


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants: the Python
    driver, the JVM and Spark's Python workers."""
    return process_tree_cpu_s(os.getpid())


@dataclass
class Op:
    """One timed op: its wall time, the CPU seconds the process tree
    spent on it and what the checks found."""
    seconds: float
    cpu_s: float = 0.0
    problems: list[str] = field(default_factory=list)


class PipelineDags:
    """The reference's taxi DAG (ingest → export → analyse over a
    monthly parquet glob) followed by the LLM curation DAG, one cold run
    per process, as a scheduled pipeline run pays it."""

    name = "pipeline_dags"
    #: Copies of the sf0.1 lineitem rows in the trips glob.
    TRIPS_COPIES = 2

    def __init__(self, repo_root: str, work_dir: str, seed: int) -> None:
        from data_eng_taxi_ibis_dagster_spark.sources.sinks import _tree_bytes

        self.trips_sf = gen.trips_glob(gen.fixture_dir(repo_root, "0.1"),
                                       os.path.join(work_dir, "in", "trips"),
                                       seed, self.TRIPS_COPIES)
        self.corpus_sf = gen.permuted_corpus(gen.fixture_dir(repo_root, "0.01"),
                                             os.path.join(work_dir, "in", "corpus"), seed)
        self.input_bytes = _tree_bytes(os.path.join(work_dir, "in"))
        self.out = os.path.join(work_dir, "out")
        self.check_s = 0.0
        self.written_bytes = 0
        self.written_rows = 0

    def warmup(self, spark, tracer: Tracer) -> tuple[float, float, list[str], int]:
        return 0.0, 0.0, [], 0

    def run(self, spark, tracer: Tracer, seconds: float) -> list[Op]:
        from data_eng_taxi_ibis_dagster_spark import pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        taxi = pipeline.taxi_pipeline_definitions(self.trips_sf, f"{self.out}/taxi")
        cur = pipeline.training_data_definitions(self.corpus_sf, f"{self.out}/curation")
        tracer.wrap_assets(taxi)
        tracer.wrap_assets(cur)
        cpu0 = tree_cpu_s()
        start = time.perf_counter()
        try:
            with tracer.span("op", phase="measure"):
                taxi_res = taxi.materialize(spark)
                by_df = taxi_res["analyse_dataframe"].value.toPandas()
                by_sql = taxi_res["analyse_sql"].value.toPandas()
                cur_res = cur.materialize(spark)
                stats = cur_res["corpus_stats"].value.toPandas()
                cur_res["mixture_sample"].value.toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed run is a failed op
            return [Op(time.perf_counter() - start, tree_cpu_s() - cpu0,
                       [f"{type(exc).__name__}: {exc}"])]
        op = Op(time.perf_counter() - start, tree_cpu_s() - cpu0)
        check_start = time.perf_counter()
        with tracer.span("checks"):
            op.problems = self._check(taxi_res, by_df, by_sql, cur_res, stats)
        shutil.rmtree(self.out, ignore_errors=True)
        self.check_s += time.perf_counter() - check_start
        return [op]

    def _check(self, taxi_res, by_df, by_sql, cur_res, stats) -> list[str]:
        from data_eng_taxi_ibis_dagster_spark.functions.exact import sql_davg
        from data_eng_taxi_ibis_dagster_spark.oracle import compare_frames, duckdb_connection
        from data_eng_taxi_ibis_dagster_spark.sources.sinks import _tree_bytes

        problems = []
        con = duckdb_connection(self.trips_sf, tables=("lineitem",))
        try:
            by_duckdb = con.execute(f"""
                SELECT l_quantity, {sql_davg('l_extendedprice')} AS avg_price
                FROM lineitem WHERE l_extendedprice > 30000 GROUP BY l_quantity
            """).fetch_df()
            n_trips = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
        finally:
            con.close()
        for name, other in (("dataframe_vs_sql", by_sql), ("dataframe_vs_duckdb", by_duckdb)):
            report = compare_frames(f"taxi.{name}", by_df, other)
            if not report.ok:
                problems.append(str(report))
        export = taxi_res["export_trips"].value
        if export.rows != n_trips:
            problems.append(f"taxi export wrote {export.rows} rows of {n_trips}")

        corpus = cur_res["export_corpus"].value
        if corpus.rows != int(stats["n_docs"].sum()):
            problems.append(f"corpus export has {corpus.rows} rows,"
                            f" corpus_stats counts {int(stats['n_docs'].sum())}")
        out = pq.read_table(corpus.path, columns=["doc_id", "text"]).to_pydict()
        ids = out["doc_id"]
        src = set(pq.read_table(os.path.join(self.corpus_sf, "documents.parquet"),
                                columns=["doc_id"]).column("doc_id").to_pylist())
        if len(set(ids)) != len(ids):
            problems.append("exported doc_ids are not unique")
        if not set(ids) <= src:
            problems.append("exported doc_ids are not a subset of the input")
        if len(set(out["text"])) != len(out["text"]):
            problems.append("an exact-duplicate text survived curation")
        index_bytes = _tree_bytes(f"{self.out}/curation/vector_index")
        self.written_bytes += export.bytes + corpus.bytes + index_bytes
        self.written_rows += export.rows + corpus.rows
        return problems


class AnalyticsQueries:
    """Oracle-checked registry queries, each pass in a seed-shuffled
    order, on one long-lived session. An op is one query: plan build plus
    execution into the ``noop`` sink."""

    name = "analytics_queries"
    #: Seconds one measured pass takes on an idle 4-core host; a run of
    #: ``seconds`` makes the fixed number of passes that fill it, so every
    #: run does the same work.
    PASS_S = 8.0
    #: Unchecked passes after the checked one, before any is timed. Per-op
    #: times still fall by about a tenth from the second pass to the third
    #: and fall more slowly from the fourth on.
    WARM_PASSES = 1

    def __init__(self, repo_root: str, work_dir: str, seed: int) -> None:
        self.sf = gen.fixture_dir(repo_root, "0.01")
        self.rng = random.Random(seed)
        self.input_bytes = sum(os.path.getsize(os.path.join(self.sf, f))
                               for f in os.listdir(self.sf))
        self.check_s = 0.0
        self.written_bytes = 0
        self.written_rows = 0

    def _order(self) -> list[str]:
        names = list(ANALYTICS_QUERIES)
        self.rng.shuffle(names)
        return names

    def warmup(self, spark, tracer: Tracer) -> tuple[float, float, list[str], int]:
        """One strict oracle-checked pass over every query, then
        ``WARM_PASSES`` unchecked passes. Returns the wall and CPU
        seconds spent outside the oracle's own work, the problems found
        and the number of queries run."""
        from data_eng_taxi_ibis_dagster_spark import oracle
        from data_eng_taxi_ibis_dagster_spark.plans.registry import get

        engine_s, engine_cpu_s, problems = 0.0, 0.0, []
        for name in self._order():
            cpu0, start = tree_cpu_s(), time.perf_counter()
            oracle_s = oracle_cpu_s = 0.0
            try:
                with tracer.span("op", phase="warmup", query=name):
                    with tracer.span("plans.build", query=name):
                        df = get(name).builder(spark, self.sf)
                    report, oracle_s, oracle_cpu_s = _timed_check(
                        oracle, spark, name, self.sf, df)
                if not report.ok:
                    problems.append(str(report))
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                problems.append(f"{name}: {type(exc).__name__}: {exc}")
            engine_s += time.perf_counter() - start - oracle_s
            engine_cpu_s += tree_cpu_s() - cpu0 - oracle_cpu_s
        ops = [op for _ in range(self.WARM_PASSES)
               for op in self._pass(spark, tracer, "warmup")]
        engine_s += sum(op.seconds for op in ops)
        engine_cpu_s += sum(op.cpu_s for op in ops)
        problems += [p for op in ops for p in op.problems]
        return engine_s, engine_cpu_s, problems, len(ANALYTICS_QUERIES) + len(ops)

    def run(self, spark, tracer: Tracer, seconds: float) -> list[Op]:
        """Whole passes, so every query weighs the same."""
        return [op for _ in range(max(1, round(seconds / self.PASS_S)))
                for op in self._pass(spark, tracer, "measure")]

    def _pass(self, spark, tracer: Tracer, phase: str) -> list[Op]:
        """Every query once, in a fresh seeded order."""
        from data_eng_taxi_ibis_dagster_spark.plans.registry import get

        ops = []
        for name in self._order():
            op = Op(0.0)
            cpu0, start = tree_cpu_s(), time.perf_counter()
            try:
                with tracer.span("op", phase=phase, query=name):
                    with tracer.span("plans.build", query=name):
                        df = get(name).builder(spark, self.sf)
                    with tracer.span("query.exec", query=name):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                op.problems.append(f"{name}: {type(exc).__name__}: {exc}")
            op.seconds = time.perf_counter() - start
            op.cpu_s = tree_cpu_s() - cpu0
            ops.append(op)
        return ops


def _timed_check(oracle, spark, name: str, sf: str, df):
    """``oracle.check_query`` on a built plan, and the wall and CPU
    seconds the oracle's own side took (its DuckDB run and the frame
    comparison), which is not engine warm-up."""
    spent = [0.0, 0.0]

    def timed(fn):
        def call(*args, **kwargs):
            cpu0, start = tree_cpu_s(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[0] += time.perf_counter() - start
                spent[1] += tree_cpu_s() - cpu0
        return call

    saved = {attr: getattr(oracle, attr) for attr in ("run_oracle", "compare_frames")}
    for attr, fn in saved.items():
        setattr(oracle, attr, timed(fn))
    try:
        report = oracle.check_query(spark, name, sf, df=df)
    finally:
        for attr, fn in saved.items():
            setattr(oracle, attr, fn)
    return report, spent[0], spent[1]


WORKLOADS = {cls.name: cls for cls in (PipelineDags, AnalyticsQueries)}
