"""LLM-data-pipeline queries, round 5 continuation #2: shingle
CONTAINMENT dedup — the near-superset detector.

Resemblance Jaccard (``dedup_ngram_jaccard`` / MinHash-LSH) misses the
boilerplate/quotation case: a short document wholly contained in a much
longer one has J = |A|/|B| ≈ 0 even though A adds no new content.
Broder's containment C(A,B) = |S(A)∩S(B)| / |S(A)| is the right
measure; production pipelines dedup on max-containment
C*(A,B) = |S(A)∩S(B)| / min(|S(A)|, |S(B)|).

Same portable-pair contract as the rest of the registry (Spark plan +
DuckDB oracle; ``/root/reference/taxi_pipeline.py:89-147`` is the
pattern being generalized). Exactness: every quantity is an integer
count; the threshold is an integer cross-multiplication
(``den·inter ≥ num·min_size``, no float boundary); the one reported
double is a single division of exact integers — bit-identical on both
engines.

Scale shape (set-similarity-join, PPJoin-family): candidate pairs come
from an inverted-index self-equi-join on shingles, never all-pairs. A
document-frequency cap (df ≤ {cap}) bounds the per-shingle join
fan-out at cap²/2 pairs — ultra-common shingles carry no containment
signal and are exactly the skew that melts a self-join at corpus
scale, so dropping them is both the performance fix and (deliberately)
part of the operator's definition: containment is computed over the
df-capped shingle space in BOTH engines, keeping the strict oracle.
The pair join's a/b sides share one exchange (AQE stage reuse);
per-doc sizes are a 16 B/doc compact relation.

The fixture corpus has no planted containments, so (same device as
``dedup_exact``) the corpus is unioned with prefix-truncated twins
(first half of each document's tokens, doc_id + 1'000'000): a token
prefix's shingle set is by construction a subset of its source's, so
every surviving twin pair must score containment exactly 1.0 — the
semantics are exercised, not just the no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators import text as T
from data_eng_taxi_ibis_dagster_spark.operators.dedup import _right_size
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

_N = 3              # shingle width (tokens)
_DF_CAP = 100       # max document frequency for a shingle to join on
_NUM, _DEN = 9, 10  # containment threshold num/den = 0.9

_SQL_TOKS = "string_split(text, ' ')"


@query(
    "dedup_containment",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ),
        corpus AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + 1000000,
                   array_to_string(
                       ({_SQL_TOKS})[1:greatest(len({_SQL_TOKS}) // 2, 1)],
                       ' ')
            FROM base
        ),
        sh AS (
            SELECT doc_id,
                   unnest({T.sql_shingles(_SQL_TOKS, _N)}) AS s
            FROM corpus
        ),
        dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        shc AS (
            SELECT sh.doc_id, sh.s
            FROM sh JOIN dfreq USING (s)
            WHERE dfreq.df <= {_DF_CAP}
        ),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS inter_size
            FROM shc a JOIN shc b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        j AS (
            SELECT doc_a, doc_b, inter_size,
                   sa.sz AS size_a, sb.sz AS size_b
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b, inter_size, size_a, size_b,
               CAST(inter_size AS DOUBLE)
                   / CAST(LEAST(size_a, size_b) AS DOUBLE) AS containment
        FROM j
        WHERE {_DEN} * inter_size >= {_NUM} * LEAST(size_a, size_b)
    """,
    tags=("E10", "EXT"),
    bench=True,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset pairs by exact shingle containment over the
    df-capped inverted index (module docstring): candidate pairs from a
    shingle self-equi-join with per-shingle fan-out ≤ cap²/2, per-doc
    sizes compact, threshold as an integer cross-multiplication."""
    base = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("text").isNotNull()))
    toks = T.tokens("text")
    half = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1,
                    F.greatest((F.size(toks) / 2).cast("int"), F.lit(1))),
            " ").alias("text"),
    )
    corpus = base.unionByName(half)

    # the shingle column is minted as the operator-owned ``_ct_s`` so
    # the plan lint's window bound is keyed to a name only this query
    # mints (the ``_wf`` precedent); no checkpoint truncates the plan,
    # so the df-cap window below is visible to the lint.
    #
    # Narrower types: the shingle travels as
    # its 16-byte md5 BINARY from birth — the key is only ever
    # compared for equality (df window, pair equi-join), never emitted,
    # so the lossless narrowing (~17-40-byte strings → 16 bytes) cuts
    # every exchange and sort it flows through; md5 (not xxhash64)
    # because a collision would MERGE two shingles' df counts and
    # intersections with no verify stage to catch it — 128 bits keeps
    # that unrealizable at any corpus size, the winnow-fingerprint
    # precedent.  The oracle keeps joining on the raw shingle: only
    # counts cross engines, and md5 is injective in practice.
    #
    # The explicit isNotNull filters are result-no-ops (doc_id and the
    # shingle are non-null by construction, and NULL keys never survive
    # the equi-joins) — they exist so every consumer's plan carries
    # the IDENTICAL filter below the _ct_s exchange: without them the
    # pair join pushes isnotnull into its two sides but not into the
    # size-aggregate branch, so the four consumers canonicalize
    # differently and the explode+window pipeline executes FOUR times
    # (a side, broadcast b side, size_a, size_b).
    # _right_size: with the pipeline now evaluated ONCE (below), the
    # tokenize+shingle+md5 pass runs on the scan's file-count
    # parallelism — 2 tasks at sf0.1, measured 2.6 s of the wall.
    # Fan the union out to defaultParallelism first (no-op at 100 TB
    # where splits outnumber slots — operators/dedup._right_size).
    sh = (_right_size(corpus).select(
              "doc_id",
              F.explode(T.shingles(T.tokens("text"), _N)).alias("_ct_raw"))
          .select("doc_id", F.unhex(F.md5("_ct_raw")).alias("_ct_s"))
          .filter(F.col("doc_id").isNotNull()
                  & F.col("_ct_s").isNotNull()))
    # df annotation as a count-over-window on the shingle partition:
    # ONE exchange of the shingle relation instead of the groupBy-df +
    # join-back pair (measured 2.2× at sf0.1). WindowExec spills, so a
    # pathologically hot shingle degrades to disk, not OOM — and its
    # rows are exactly the ones the cap then drops.  No
    # localCheckpoint pins this relation to one evaluation (it would
    # run the corpus work at plan-build time, before the query's own
    # action). One evaluation comes instead from identical sub-plans
    # under every consumer (the filters above) + a SHUFFLE_HASH hint on the pair join so AQE
    # cannot broadcast side b as a separately-evaluated relation — the
    # join sides and the size aggregate all read ONE shared _ct_s
    # exchange stage (AQE stage reuse; the window's output partitioning
    # already satisfies the join, so no further exchange exists).
    shc = (sh.withColumn(
               "df", F.count(F.lit(1)).over(Window.partitionBy("_ct_s")))
           .filter(F.col("df") <= _DF_CAP)
           .select("doc_id", "_ct_s"))
    sz = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    a = shc.select(F.col("doc_id").alias("doc_a"), "_ct_s")
    b = shc.select(F.col("doc_id").alias("doc_b"), "_ct_s")
    inter = (
        a.join(b.hint("shuffle_hash"), "_ct_s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    j = (
        inter
        .join(sz.select(F.col("doc_id").alias("doc_a"),
                        F.col("sz").alias("size_a")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"),
                        F.col("sz").alias("size_b")), "doc_b")
    )
    min_sz = F.least(F.col("size_a"), F.col("size_b"))
    return (
        j.filter(_DEN * F.col("inter_size") >= _NUM * min_sz)
        .select(
            "doc_a", "doc_b", "inter_size", "size_a", "size_b",
            (F.col("inter_size").cast("double")
             / min_sz.cast("double")).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-balanced subset selection (diversity sampling)
# ---------------------------------------------------------------------------

_CBS_K = 4          # semantic clusters (lowest-id seed vectors)
_CBS_CAP = 25       # kept vectors per cluster


@query(
    "cluster_balanced_sample",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), seedi AS (
            SELECT e AS c, row_number() OVER (ORDER BY vec_id) - 1 AS idx
            FROM v ORDER BY vec_id LIMIT {_CBS_K}
        ), scored AS (
            SELECT v.vec_id, s.idx,
                   list_sum(list_transform(
                       range(1, len(v.e) + 1),
                       i -> (v.e[i] - s.c[i]) * (v.e[i] - s.c[i]))) AS d2
            FROM v CROSS JOIN seedi s
        ), assigned AS (
            SELECT vec_id, idx,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2 ASC, idx ASC) AS rn
            FROM scored
        )
        SELECT cluster_id, vec_id, pick_rank FROM (
            SELECT idx AS cluster_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY idx
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) AS pick_rank
            FROM assigned WHERE rn = 1
        )
        WHERE pick_rank <= {_CBS_CAP}
        ORDER BY cluster_id, pick_rank
    """,
    tags=("E11", "E12", "EXT"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset selection: cap the corpus at K vectors
    per semantic cluster, chosen by deterministic hash order — the
    embedding-space analog of ``domain_cap_sample``'s source
    balancing, used to keep one dominant topic from swamping a
    curated mixture (DiverseEvol/SemDeDup-style diversity sampling).

    Assignment reuses the strictly-audited seed E-step
    (:func:`operators.similarity.lloyd_assignments` with iters=1: the
    E-step ``operators.similarity._assign`` over the seed centroids —
    the configuration ``kmeans_estep_audit`` pins to SQL ground
    truth): row-local argmin against broadcast-literal seed
    centroids, no join, no shuffle. The per-cluster cap is one
    window partitioned by cluster over the compact (vec_id, cluster)
    relation; for a mega-cluster, pre-thin with an approximate md5
    threshold exactly as documented on ``domain_cap_sample``."""
    from data_eng_taxi_ibis_dagster_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    asg = S.lloyd_assignments(e, k=_CBS_K, iters=1).select(
        F.col("_id").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")),
        F.col("vec_id"))
    return (
        asg.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= _CBS_CAP)
        .orderBy("cluster_id", "pick_rank")
    )
