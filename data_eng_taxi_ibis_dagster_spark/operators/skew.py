"""Skew-safe aggregation and co-located (bucketed) joins — the two
shuffle levers that matter most at 100 TB.

``salted_agg`` implements two-stage aggregation with a salt column:
stage 1 aggregates on (key, salt) — hot keys split across ``salt``
reducers — stage 2 merges the partials per key. Use it when one key
owns a large fraction of rows (the classic straggler); AQE's skew-join
handling covers joins, but a skewed *aggregation* key still needs the
salt. Only aggregates with a decomposition (sum/count/min/max → and
avg via sum+count) are supported — that's the algebra that makes
two-stage merging exact.

``write_bucketed`` / bucketed reads make repeated joins on the same key
shuffle-free: both sides pre-hashed into the same bucket layout means
SortMergeJoin without Exchange. For a fact table joined on the same key
by every downstream query, bucketing pays the shuffle once at write
time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key: str, aggs: dict[str, tuple[str, Column]],
               *, salt: int = 16) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output name → (merge_fn, stage1_column) where merge_fn
    ∈ {"sum", "min", "max"} re-combines stage-1 partials. Example::

        salted_agg(df, "k", {
            "n": ("sum", F.count(F.lit(1))),
            "total": ("sum", dsum("x")),
            "max_x": ("max", F.max("x")),
        })
    """
    mergers = {"sum": F.sum, "min": F.min, "max": F.max}
    # row-level deterministic salt (hash of the full row): partition-level
    # salts would be a no-op — map-side partial aggregation already
    # combines within a partition; the salt's job is to split one hot
    # key across `salt` REDUCERS.
    stage1 = (
        df.withColumn("_salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                                      F.lit(salt)))
        .groupBy(key, "_salt")
        .agg(*[col.alias(f"_p_{name}") for name, (_, col) in aggs.items()])
    )
    return stage1.groupBy(key).agg(*[
        mergers[how](f"_p_{name}").alias(name) for name, (how, _) in aggs.items()
    ])


def write_bucketed(df: DataFrame, name: str, *, key: str, buckets: int = 32,
                   sort: bool = True) -> None:
    """Materialize a table bucketed (and optionally sorted) by the join
    key. Joins between tables bucketed identically on the key need no
    Exchange — verified by the shuffle-count test."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a stale location from a dead session blocks managed-table creation
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{name.lower()}", ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(name)


def salted_join(big: DataFrame, small: DataFrame, big_key: str,
                small_key: str, *, salt: int = 8,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: the big side gets a deterministic row-level
    salt in [0, salt) (hash of the whole row, like :func:`salted_agg`),
    the small side replicates ``salt``× via explode, and the join runs
    on (key, salt) — a hot key's rows spread across ``salt`` reducer
    tasks instead of one straggler. AQE's skew-join split covers the
    plain sort-merge case at runtime; the explicit salt is for shapes
    AQE can't rewrite (skew reappearing after an intermediate
    aggregation, or when the join must stay deterministic under a
    disabled-AQE audit). Exactness: salting is a pure partitioning
    trick — every (big row, small row) key match still meets exactly
    once, on the big row's own salt value."""
    b = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
               F.lit(salt)).cast("int"))
    s = small.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    joined = b.join(
        s, (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]), how)
    return joined.drop("_salt")
