#!/usr/bin/env python
"""Fixed-batch / grown-corpus ingest probe — the batch-proportionality
measurement, regression-tracked (round-7 verdict ask #2: the 1.8×-wall-
for-20×-corpus number was a one-off; this script makes it reproducible
each round).

A FIXED ~2,500-doc batch probes a persisted band-partitioned LSH index
built over (a) a small corpus and (b) a ~19× larger corpus. If probe
cost is batch-proportional — the 100 TB ingest claim — wall time grows
far slower than the corpus (the residual is the touched-bucket
semi-join scan and candidate text lookup, both sub-linear in corpus).

Needs the sf1 stretch fixture (``python scripts/make_sf1.py`` →
``.sfdata/sf1``, ~50k documents). Prints ONE JSON line:

  {"batch": B, "corpus_small": N1, "corpus_large": N2,
   "small_sec": s, "large_sec": l, "ratio": l/s}

Timing rule: the index build (the offline half of ingest) is untimed;
the timed window is the probe plan's noop write; each side reports the
minimum over SPARK_GRAFT_BENCH_PASSES (default 2) separated passes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    docs_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".sfdata", "sf1"))
    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.operators import dedup as D
    from data_eng_taxi_ibis_dagster_spark.session import get_session
    from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

    spark = get_session(app_name="ingest-probe-bench")
    d = load_table(spark, docs_dir, "documents").select("doc_id", "text")

    # Deterministic, disjoint splits: batch = ids ≡ 1 (mod 20) (~5%),
    # small corpus = ids ≡ 0 (mod 20) (same size as the batch), large
    # corpus = everything not in the batch (~19× the small corpus).
    batch = d.filter(F.col("doc_id") % 20 == 1).localCheckpoint()
    small = d.filter(F.col("doc_id") % 20 == 0)
    large = d.filter(F.col("doc_id") % 20 != 1)

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    sizes: dict[str, int] = {}
    probes: dict[str, object] = {}
    paths: list[str] = []
    try:
        for label, corpus in (("small", small), ("large", large)):
            corpus = corpus.localCheckpoint()
            sizes[label] = corpus.count()
            path = os.path.join(
                tempfile.gettempdir(),
                f"sg_probe_bench_{label}_{uuid.uuid4().hex[:8]}")
            paths.append(path)
            D.lsh_band_index(corpus).write.mode("overwrite") \
                .partitionBy("band").parquet(path)
            probes[label] = D.incremental_near_dup_pairs(
                batch, corpus, threshold=0.6,
                index=spark.read.parquet(path))

        n_batch = batch.count()
        best = {"small": float("inf"), "large": float("inf")}
        for _ in range(passes):  # separated passes, min per probe
            for label in ("small", "large"):
                start = time.perf_counter()
                probes[label].write.mode("overwrite").format("noop").save()
                best[label] = min(best[label],
                                  time.perf_counter() - start)
    finally:
        import shutil

        for path in paths:  # the probes are done — reclaim the indexes
            shutil.rmtree(path, ignore_errors=True)

    print(json.dumps({
        "batch": n_batch,
        "corpus_small": sizes["small"],
        "corpus_large": sizes["large"],
        "small_sec": round(best["small"], 3),
        "large_sec": round(best["large"], 3),
        "ratio": round(best["large"] / best["small"], 3),
    }))


if __name__ == "__main__":
    main()
