"""LLM-data-pipeline queries, round 5: product-quantized vector
search (Jégou et al. 2011) and per-domain document caps (the
RefinedWeb/C4 rule that no single host dominates the training mix).
(Corpus-LM familiarity scoring already lives in llm12's
``lm_bigram_familiarity``.)

Same portable-pair contract as every other module (Spark DataFrame
plan + DuckDB oracle over the same parquet;
``/root/reference/taxi_pipeline.py:89-147`` is the 387-line pattern
this generalizes). Engine-parity notes:

* ``similarity_pq_audit`` runs the REAL PQ pipeline (slice → encode
  against a codebook DataFrame → reconstruct → cosine top-k) in the
  lossless configuration (codebook = distinct subvectors), where
  reconstruction is bit-exact and the result provably equals brute
  force — so the brute-force SQL oracle hash-pins the entire encode/
  reconstruct/score machinery. The production Lloyd configuration
  (``similarity_pq_topk``) shares the encode step and the
  ``similarity.refine_topk`` tail, and scores with the ADC kernel.
* The domain cap orders candidates by md5 (the cross-engine hash) so
  "random K per domain" is deterministic and identical in both
  engines.

Scale shapes: PQ codebooks are m·k-row broadcasts and the corpus
moves as code bytes (32× compression at d=64, m=8) — see
operators/pq.py; the domain cap is one
partitioned window whose groups are per-domain (for mega-domains at
100 TB, pre-thin with an approximate per-domain hash threshold before
the exact window — noted on the query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators import pq as PQ
from data_eng_taxi_ibis_dagster_spark.operators import similarity as S
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

@query(
    "similarity_pq_audit",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
             scored AS (
                 SELECT query_id, match_id,
                        {S.sql_cosine('qv', 'cv')} AS cosine_sim
                 FROM q CROSS JOIN c
                 WHERE query_id != match_id
             )
        SELECT query_id, match_id, cosine_sim, rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) AS rnk
            FROM scored
        )
        WHERE rnk <= 10
    """,
    tags=("E11", "audit"),
)
def similarity_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ search pipeline (operators/pq.pq_topk — encode, then
    ``cosine_topk`` over the reconstructions) with the lossless
    identity codebook: every distinct subvector is its own centroid,
    so encode→reconstruct round-trips bit-exactly and the top-10 is
    PROVABLY the brute-force exact answer the oracle states. Any
    drift in the subspace slicing, the encode min_by join, the
    reconstruction reassembly ordering, or the fold-based cosine
    breaks this hash-checked twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_exact(emb, m=8, dim=64)
    return (
        PQ.pq_topk(emb.filter(F.col("vec_id") < 5), emb, book,
                   k=10, m=8, dim=64)
        .orderBy("query_id", "rnk")
    )


@query(
    "similarity_pq_topk",
    oracle=None,  # float centroids from the Lloyd trainer → rows-only
    tags=("E11", "E15"),  # E15: Arrow mapInPandas ADC kernel
    bench=True,
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PQ search: per-subspace Lloyd codebooks (m=8
    subspaces × k=16 centroids → 8-byte codes for 256-byte vectors,
    32× compression), encode the corpus once, score with the
    lookup-table ADC kernel (numpy gathers over the Arrow code
    batches — operators/pq.pq_topk_adc; 1.7× the reconstruct-join
    plan at sf1 and widening with corpus size), then the FAISS-style
    refinement stage: shortlist 8·k by quantized score, exact re-rank
    only the shortlist against the original vectors. Deterministic
    (decimal M-step, numpy pairwise sums, exact-cosine final scores)
    but float-centroid distances keep it out of the strict-oracle
    class — the audit twin (`similarity_pq_audit`) pins the fold-based
    machinery, and recall vs the exact top-k is asserted in
    tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_lloyd(emb, m=8, dim=64, k=16, iters=2)
    return (
        PQ.pq_topk_adc(emb.filter(F.col("vec_id") < 5), emb, book,
                       k=10, m=8, dim=64, refine=8)
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Per-domain document cap (RefinedWeb-style source balancing)
# ---------------------------------------------------------------------------

@query(
    "domain_cap_sample",
    oracle="""
        SELECT doc_id, source, pick_rank
        FROM (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(text), doc_id) AS pick_rank
            FROM documents
        )
        WHERE pick_rank <= 10
        ORDER BY source, pick_rank
    """,
    tags=("E12",),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep at most K=10 documents per source, chosen
    by deterministic hash order (md5 of the text — the cross-engine
    hash, so "random K" is reproducible and engine-identical). This
    is the source-balancing rule of RefinedWeb/C4-style pipelines:
    without it, one mega-domain dominates the training mixture.

    Scale shape (two-stage exact top-K): a naive single window
    partitioned by domain funnels a mega-domain (billions of docs)
    through ONE task. Instead, stage 1 pre-thins map-side-style: a
    window keyed by ``(source, input-partition-id)`` keeps the K
    smallest hashes of each source *within each scan partition* —
    every group is bounded by the scan partition's row count
    (``maxPartitionBytes``), and the mega-domain is spread across all
    its partitions. Stage 2 runs the exact per-source window over the
    survivors: ≤ K rows per (source, partition), so ≤ K×P rows per
    source reach it. The thin is provably lossless (any global
    per-source top-K row is top-K within its own partition), so the
    strict oracle — a plain single-window SQL rendering — still
    hash-matches; tests/test_operators.py pins the two-stage ≡
    one-stage equivalence explicitly as well."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source",
        F.md5(F.col("text").cast("binary")).alias("_h"),
        F.spark_partition_id().alias("_pid"))
    w_local = Window.partitionBy("source", "_pid").orderBy("_h", "doc_id")
    thin = (
        hashed.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= 10)
    )
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        thin.select("doc_id", "source",
                    F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= 10)
        .orderBy("source", "pick_rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka two-stage retrieval (truncated-prefix shortlist + full re-rank)
# ---------------------------------------------------------------------------

@query(
    "similarity_matryoshka_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
             s16 AS (
                 SELECT query_id, match_id,
                        {S.sql_cosine('qv[1:16]', 'cv[1:16]')} AS sim16
                 FROM q CROSS JOIN c
                 WHERE query_id != match_id
             ),
             short AS (
                 SELECT query_id, match_id FROM (
                     SELECT *, ROW_NUMBER() OVER (
                         PARTITION BY query_id
                         ORDER BY sim16 DESC, match_id ASC) AS srnk
                     FROM s16
                 ) WHERE srnk <= 25
             ),
             rer AS (
                 SELECT s.query_id, s.match_id,
                        {S.sql_cosine('q.qv', 'c.cv')} AS cosine_sim
                 FROM short s
                 JOIN q ON s.query_id = q.query_id
                 JOIN c ON s.match_id = c.match_id
             )
        SELECT query_id, match_id, cosine_sim, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cosine_sim DESC, match_id ASC) AS rnk
            FROM rer
        ) WHERE rnk <= 5
        ORDER BY query_id, rnk
    """,
    tags=("E11",),
)
def similarity_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval (Kusupati et al. 2022, MRL):
    shortlist on the EMBEDDING PREFIX (first 16 of 64 dims — 4× less
    arithmetic and, with prefix-pruned storage, 4× less scan I/O),
    then exact full-dimension re-rank of the 25-candidate shortlist.
    The same two-stage winnow/refine shape as PQ search, but the
    compressed representation is a plain array slice, so BOTH stages
    are strictly SQL-expressible and the whole pipeline — truncated
    scoring, shortlist cut, full re-rank, final ordering — is
    hash-checked against DuckDB, shortlist boundary ties included.

    Stage 1 is :func:`operators.similarity.cosine_topk` on the
    prefixes, stage 2 the shared :func:`operators.similarity.refine_topk`
    (as in ``operators/pq.retrieval_stack`` stage 1 and the PQ
    searches' refine). Scale shape: stage 1 is the brute-force
    probe-broadcast scan on quarter-width vectors (or an ANN/PQ variant
    — composable); stage 2 touches |Q|·25 rows. No corpus-wide shuffle
    in either stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    def prefix(df: DataFrame) -> DataFrame:
        return df.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))

    short = S.cosine_topk(prefix(queries), prefix(emb), k=25)
    return (
        S.refine_topk(short, queries, emb, k=5, refine=5)
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF-PQ (coarse inverted lists over PQ codes)
# ---------------------------------------------------------------------------

@query(
    "similarity_ivfpq_audit",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
             scored AS (
                 SELECT query_id, match_id,
                        {S.sql_cosine('qv', 'cv')} AS cosine_sim
                 FROM q CROSS JOIN c
                 WHERE query_id != match_id
             )
        SELECT query_id, match_id, cosine_sim, rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, match_id ASC) AS rnk
            FROM scored
        )
        WHERE rnk <= 10
    """,
    tags=("E11", "audit"),
)
def similarity_ivfpq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ pipeline (operators/pq.ivfpq_topk — the SAME
    function the production query runs) in its provably-exact
    configuration: nprobe = n_centroids makes the candidate set the
    full corpus, and the identity codebook makes reconstruction
    lossless, so the result IS the brute-force top-10 the oracle
    states. Drift in the coarse assignment kernel, the probe-list
    equi-join, the encode/decode joins, or the re-rank ordering
    breaks this hash-checked twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_exact(emb, m=8, dim=64)
    return (
        PQ.ivfpq_topk(emb.filter(F.col("vec_id") < 5), emb, book,
                      n_centroids=8, nprobe=8, k=10, m=8, dim=64)
        .orderBy("query_id", "rnk")
    )


@query(
    "similarity_ivfpq_topk",
    oracle=None,  # Lloyd float centroids → rows-only
    tags=("E11",),
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF-PQ: 8 coarse lists probed 3-deep (the probe
    join touches ~3/8 of the corpus codes), Lloyd codebooks, 4·k
    refinement against original vectors. The materialized-index twin
    (``write_ivfpq_index`` / ``search_ivfpq_index`` — inverted lists
    as partitionBy(centroid_id) parquet, probes pushed down as
    partition filters) is exercised in tests/test_pq.py with a
    PartitionFilters plan assertion."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_lloyd(emb, m=8, dim=64, k=16, iters=2)
    return (
        PQ.ivfpq_topk(emb.filter(F.col("vec_id") < 5), emb, book,
                      n_centroids=8, nprobe=3, k=10, m=8, dim=64,
                      refine=4)
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Late-interaction (MaxSim) retrieval
# ---------------------------------------------------------------------------

def _maxsim_cases_sql() -> str:
    # fixed-order addition of the 4 per-facet maxima (see docstring)
    return " + ".join(
        f"MAX(CASE WHEN qsub = {s} THEN sim END)" for s in range(4))


@query(
    "similarity_maxsim_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
             qs AS (
                 SELECT query_id, s.i AS qsub,
                        qv[s.i * 16 + 1 : s.i * 16 + 16] AS qsv
                 FROM q, (SELECT unnest(range(0, 4)) AS i) s
             ),
             cs AS (
                 SELECT match_id, s.i AS csub,
                        cv[s.i * 16 + 1 : s.i * 16 + 16] AS csv
                 FROM c, (SELECT unnest(range(0, 4)) AS i) s
             ),
             best AS (
                 SELECT query_id, match_id, qsub,
                        MAX({S.sql_cosine('qsv', 'csv')}) AS sim
                 FROM qs CROSS JOIN cs
                 WHERE query_id != match_id
                 GROUP BY query_id, match_id, qsub
             ),
             scored AS (
                 SELECT query_id, match_id, {_maxsim_cases_sql()} AS maxsim
                 FROM best
                 GROUP BY query_id, match_id
             )
        SELECT query_id, match_id, maxsim, rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY maxsim DESC, match_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 5
        ORDER BY query_id, rnk
    """,
    tags=("E11",),
)
def similarity_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim rule, Khattab &
    Zaharia 2020): score(q, d) = Σ over query token-vectors of the MAX
    cosine against any document token-vector — finer-grained matching
    than single-vector cosine because each query facet picks its own
    best-matching document facet. The fixture stores one 64-d vector
    per row, so both engines derive the multi-vector view identically:
    4 token-vectors of 16 dims by slicing (the matryoshka-style
    deterministic reshape).

    Engine-exactness: per-(query, match, qsub) reduction is MAX — the
    one float aggregate that IS order-independent — and the final
    score adds the 4 per-facet maxima in fixed expression order
    (CASE-pivot + literal ``+`` chain in BOTH renderings), so no
    nondeterministic float summation exists anywhere in the path.

    Scale shape: corpus explodes ×4 into facet rows (still row-local),
    the probe set broadcasts, and the two hash aggregates carry
    (query, match[, qsub]) keys — candidate generation can swap in any
    of the ANN tiers (SRP / IVF / PQ) ahead of the exact MaxSim."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S.as_double("embedding").alias("qv")))
    c = emb.select(F.col("vec_id").alias("match_id"),
                   S.as_double("embedding").alias("cv"))
    qs = q.select(
        "query_id",
        F.posexplode(F.array(*[F.slice("qv", s * 16 + 1, 16)
                               for s in range(4)])).alias("qsub", "qsv"))
    cs = c.select(
        "match_id",
        F.posexplode(F.array(*[F.slice("cv", s * 16 + 1, 16)
                               for s in range(4)])).alias("csub", "csv"))
    # ONE hash aggregate: per-facet conditional maxes (MAX is exact
    # and order-independent, so folding the per-(q, m, qsub) max and
    # the facet pivot into a single groupBy is bit-identical to the
    # two-aggregate rendering the oracle uses) — map-side combine now
    # shrinks the corpus×16 facet-pair rows to ONE 4-column row per
    # (query, match) before the only exchange, instead of 4 rows plus
    # a second chained exchange.
    sim = S.cosine(F.col("qsv"), F.col("csv"))
    facet = [F.max(F.when(F.col("qsub") == s, sim)).alias(f"_f{s}")
             for s in range(4)]
    scored = (
        F.broadcast(qs).crossJoin(cs)
        .filter(F.col("query_id") != F.col("match_id"))
        .groupBy("query_id", "match_id")
        .agg(*facet)
        .select("query_id", "match_id",
                (F.col("_f0") + F.col("_f1") + F.col("_f2") + F.col("_f3"))
                .alias("maxsim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )
