"""Lloyd k-means: determinism, corpus partitioning, objective descent.

The op is rows-only for the driver harness (float distances), so these
tests carry its correctness weight: repeated runs must be bit-identical,
every vector must land in exactly one cluster, and more Lloyd
iterations must not increase the clustering objective.
"""

import pytest

from data_eng_taxi_ibis_dagster_spark.operators.similarity import kmeans_lloyd
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def _rows(df):
    return sorted(
        (r["cluster_id"], r["n_vectors"], r["min_vec_id"], r["sse"])
        for r in df.collect()
    )


def test_kmeans_partitions_corpus_and_is_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    r1 = _rows(kmeans_lloyd(e, k=4, iters=3))
    r2 = _rows(kmeans_lloyd(e, k=4, iters=3))
    assert r1 == r2  # bit-reproducible across runs (incl. float sse)
    assert sum(s[1] for s in r1) == n  # every vector assigned exactly once
    assert 1 <= len(r1) <= 4
    assert all(s[1] > 0 for s in r1)
    assert all(s[3] >= 0.0 for s in r1)


def test_kmeans_objective_nonincreasing(spark, sf_dir):
    """Lloyd guarantee: J after the E-step is non-increasing in the
    iteration count (each M-step minimizes J for the assignment, each
    E-step minimizes it for the centroids). The emitted ``sse`` is
    exactly J after the final E-step, so iters=3 ≤ iters=2 ≤ iters=1."""
    e = load_table(spark, sf_dir, "embeddings")
    js = [
        sum(r["sse"] for r in kmeans_lloyd(e, k=4, iters=i).collect())
        for i in (1, 2, 3)
    ]
    assert js[1] <= js[0] + 1e-9
    assert js[2] <= js[1] + 1e-9


def test_kmeans_fewer_rows_than_k_shrinks_k(spark):
    """A corpus with fewer ids than k seeds fewer centroids: k shrinks
    to the seed count (the PQ codebook rule), so 3 distinct vectors
    with k=4 form 3 singleton clusters instead of failing; a corpus
    with nothing to seed from is a ValueError."""
    df = spark.createDataFrame(
        [(i, [float(i == d) for d in range(4)]) for i in range(3)],
        "vec_id long, embedding array<float>")
    rows = _rows(kmeans_lloyd(df, k=4, iters=2))
    assert [(r[1], r[2]) for r in rows] == [(1, 0), (1, 1), (1, 2)]
    with pytest.raises(ValueError):
        kmeans_lloyd(df.limit(0), k=4, iters=1)
