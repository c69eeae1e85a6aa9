"""SparkSession bootstrap.

The reference builds a throwaway session per asset and stops it after each
query (``/root/reference/taxi_pipeline_native.py:116-132`` — an
anti-pattern that bills JVM startup to every query). Here one long-lived
session is shared (O3 in SURVEY.md §2a), configured for:

* AQE with partition coalescing + skew-join handling — runtime re-planning
  is the main lever that keeps static ``shuffle.partitions`` choices safe
  across scale factors (sf0.001 local → 100 TB cluster).
* Arrow-accelerated ``toPandas``/pandas-UDF transfer.
* UTC session timezone so timestamp semantics are host-independent.

At cluster scale the same builder is used with ``master`` unset (inherited
from spark-submit) — nothing here is local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-level settings safe (and desirable) on both local and cluster.
SESSION_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning: with a selective build side on
    # a large-large shuffle join, drop probe rows before their shuffle.
    # Production thresholds still gate injection (≥10 GB probe scan),
    # so this is a no-op locally and a win at 100 TB; mechanism proven
    # in tests/test_scale_plans.py.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferWindowGroupLimit only rewrites rank-limit windows whose k is
    # at or below this threshold (default 1000). The KMV sketch's
    # bottom-k selection (operators/kmv, k=4096) depends on the rewrite
    # for its map-side pre-thin; 8192 keeps the per-partition top-k
    # heap bounded (~8k 32-char hashes ≈ 256 KB per group in flight)
    # while covering every rank limit the registry uses.
    "spark.sql.optimizer.windowGroupLimitThreshold": "8192",
    "spark.sql.session.timeZone": "UTC",
    # The events fixture carries parquet TIMESTAMP(NANOS) which Spark
    # refuses by default; read it as raw nanos and normalize ourselves
    # (sources.tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(app_name: str = "data-eng-taxi-ibis-dagster-spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32, matching
    the bench environment); ``shuffle_partitions`` defaults to the same so
    local runs have one task per core post-shuffle, while AQE coalesces
    away the empties.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI stays off for the timed and test paths (its status
        # listener is overhead); scripts/profile_query.py and
        # perfbench's traced mode (``--trace 1``) switch it on for the
        # REST /api/v1 status endpoints their engine counters come from.
        .config("spark.ui.enabled",
                os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.port", "0")
        # Python workers import the package too (UDF, mapInArrow and
        # pandas-function bodies) and see neither the driver's working
        # directory nor its sys.path: give them the package's parent.
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    for key, value in SESSION_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session conf to an externally-built session.

    The correctness driver hands us its own SparkSession; query builders
    route through this so semantics (nanos handling, UTC) hold regardless
    of who built the session.
    """
    for key, value in SESSION_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # static conf on someone else's session — skip
            pass
    return spark
