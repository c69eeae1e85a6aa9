"""LLM-data-pipeline queries, round 5 continuation: lexical retrieval
(Okapi BM25) and DSIR hashed-n-gram importance weighting (Xie et al.
2023) — the two standard corpus-curation rankers the surface still
lacked: "find the documents most relevant to a probe query" (eval-set
mining, contamination triage) and "weight raw documents by how
target-like their n-gram distribution is" (domain-targeted data
selection).

Same portable-pair contract as every other module (Spark DataFrame
plan + DuckDB oracle over the same parquet;
``/root/reference/taxi_pipeline.py:89-147`` is the 387-line pattern
this generalizes). Exactness discipline (functions/exact.py):

* Every per-row score is built from INTEGER counts; divisions happen
  once, on exact integer operands, as a single IEEE-double op that
  both engines evaluate identically.
* ``ln`` is the one transcendental: its operand is an exact ratio of
  integers and its output feeds a half-up long quantization (the
  ``lsum`` convention) — a cross-engine mismatch would need the ulp
  of an irrational to straddle a 0.5·10⁻ᵏ boundary, which is not a
  realizable event; the quantized longs then sum exactly and
  order-independently.
* Final rankings order by the exact quantized-long score with a
  doc_id tiebreak, so top-k membership is deterministic per engine
  and identical across them.

Scale shapes:

* **BM25** — the postings relation (doc, term, tf) is pruned to query
  terms by a BROADCAST join before anything else moves: at 100 TB the
  only shuffles carry postings of the |Q| query terms (plus the
  doc-length relation, joined on doc_id). df/N/avgdl statistics are
  term- or one-row-bounded broadcasts. Per-query top-k is a window
  partitioned by query_id — never a global sort.
* **DSIR** — the hashed feature space is a FIXED 256 buckets, so the
  learned log-ratio table is a 256-row broadcast regardless of corpus
  size; documents reduce to (doc, bucket, n) with bucket fan-out ≤
  256, and the weight is one per-doc aggregate. Integer headroom:
  n·lrq ≤ 10⁵·3·10¹⁰ ≈ 3·10¹⁵ per bucket row and < 8·10¹⁷ per doc —
  inside BIGINT at any realistic document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators import text as T
from data_eng_taxi_ibis_dagster_spark.operators.dedup import _right_size
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Okapi BM25 (Robertson et al., TREC-3) — k1 = 1.2, b = 0.75
# ---------------------------------------------------------------------------
# With k1 = 6/5 and b = 3/4, the tf saturation term over integer counts
# tf, dl, corpus tokens t and corpus docs n folds to the exact rational
#     tf·(k1+1) / (tf + k1·(1 − b + b·dl·n/t))
#   = 44·tf·t / (20·tf·t + 6·t + 18·dl·n)
# (multiply through by 20·t) — BIGINT-exact numerator/denominator, one
# double division. idf(t) = ln((n − df + ½)/(df + ½) + 1) simplifies to
# ln((2n+2)/(2df+1)), again a ratio of exact integers. Headroom:
# 44·tf·t overflows past tf·t ≈ 2·10¹⁷ — a 10¹³-token corpus tolerates
# per-doc term frequencies up to ~10⁴.

_BM25_QUERIES: list[tuple[int, str]] = [
    (0, "spark"), (0, "query"), (0, "window"),
    (1, "join"), (1, "filter"), (1, "sort"),
    (2, "vector"), (2, "stream"), (2, "hash"),
]
_BM25_TOPK = 10
_BM25_UNIT = 1_000_000  # half-up quantization unit for per-term scores

_BM25_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in _BM25_QUERIES)


@query(
    "retrieval_bm25_topk",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, SUM(dl) AS t FROM dl),
        q(query_id, term) AS (VALUES {_BM25_VALUES}),
        dfr AS (
            SELECT term, COUNT(*) AS df FROM tf
            WHERE term IN (SELECT term FROM q)
            GROUP BY term
        ),
        cand AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(FLOOR(
                       ln(CAST(2*s.n + 2 AS DOUBLE)
                          / CAST(2*dfr.df + 1 AS DOUBLE))
                       * (CAST(44*tf.tf*s.t AS DOUBLE)
                          / CAST(20*tf.tf*s.t + 6*s.t + 18*dl.dl*s.n
                                 AS DOUBLE))
                       * {_BM25_UNIT} + 0.5) AS BIGINT) AS ci
            FROM tf
            JOIN q USING (term)
            JOIN dfr ON dfr.term = tf.term
            JOIN dl USING (doc_id)
            CROSS JOIN stats s
        ),
        sc AS (
            SELECT query_id, doc_id, SUM(ci) AS si
            FROM cand GROUP BY 1, 2
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
               CAST(si AS DOUBLE) / CAST({_BM25_UNIT} AS DOUBLE)
                   AS bm25_score,
               rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY si DESC, doc_id) AS rnk
            FROM sc
        )
        WHERE rnk <= {_BM25_TOPK}
    """,
    tags=("E11", "E12", "EXT"),
    bench=True,
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k lexical retrieval over an inverted-index-shaped
    postings relation: |Q| probe queries score every document that
    shares a term, exactly as a search/eval-mining pass over a training
    corpus would. The postings relation is pruned to query terms via a
    broadcast join BEFORE any shuffle, df/avgdl statistics are
    term-count-bounded, and per-query ranking windows partition by
    query_id — no stage touches more than the query terms' postings."""
    # split() yields >=1 token for any non-NULL text, so "docs with a
    # non-NULL text" is exactly the oracle's dl relation (unnest drops
    # only NULL arrays); n and dl then need no explode at all.
    # _right_size: the corpus tokenization otherwise runs on the
    # scan's file-count parallelism (1 task at sf0.1); no-op at scale.
    d = (_right_size(load_table(spark, sf_dir, "documents"))
         .filter(F.col("text").isNotNull()))
    # The isNotNull is a no-op (explode of split never yields NULL
    # terms), and stage reuse does not need it: both consumers read
    # tfq, whose join on term infers isnotnull(term) in each copy, so
    # the physical plan is the same without it.
    toks = (d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
            .filter(F.col("term").isNotNull()))
    # Doc length is row-local (array size) — no corpus-wide groupBy.
    # No localCheckpoint "materializes once" here: under AQE it runs
    # at PLAN-BUILD time, real corpus work before the query's own
    # action.  The two consumers (corpus statistics, candidate join) re-derive the row-local projection
    # concurrently inside the action — the order.py A/B precedent
    # (a wash) applies: the subtree is one scan + a tokenize.
    dl = d.select("doc_id",
                  F.size(T.tokens("text")).cast("long").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))

    q = spark.createDataFrame(_BM25_QUERIES, ["query_id", "term"])
    qterms = q.select("term").distinct()
    # Prune exploded tokens to query terms BELOW the tf aggregation:
    # the (doc, term) exchange then carries only the |Q| query terms'
    # postings, never the corpus vocabulary.  No checkpoint (as for
    # ``dl``): the two consumers (df stats,
    # candidate scoring) prune identically below the (doc_id, term)
    # aggregate — grouping keys are not prunable — so AQE stage reuse
    # shares the single corpus tokenization pass at runtime.
    tfq = (toks.join(F.broadcast(qterms), "term")
           .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfr = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log((2 * F.col("n") + 2).cast("double")
                / (2 * F.col("df") + 1).cast("double"))
    tfn = ((44 * F.col("tf") * F.col("t")).cast("double")
           / (20 * F.col("tf") * F.col("t") + 6 * F.col("t")
              + 18 * F.col("dl") * F.col("n")).cast("double"))
    ci = F.floor(idf * tfn * F.lit(_BM25_UNIT) + F.lit(0.5)).cast("long")

    cand = (
        tfq.join(F.broadcast(q), "term")
        .join(F.broadcast(dfr), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("query_id", "doc_id", ci.alias("ci"))
    )
    sc = cand.groupBy("query_id", "doc_id").agg(F.sum("ci").alias("si"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("si").desc(), F.col("doc_id"))
    return (
        sc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            (F.col("si").cast("double")
             / F.lit(float(_BM25_UNIT))).alias("bm25_score"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DSIR_B = 256          # hashed feature buckets (fixed, corpus-independent)
_DSIR_UNIT = 10 ** 9   # half-up quantization unit for bucket log-ratios
_DSIR_TOPK = 100
_DSIR_TARGET_LANG = "en"

# Cross-engine bucket hash: first 16 bits of md5(bigram) mod 256.
_SQL_TOKS = "string_split(text, ' ')"
_SQL_BIGRAMS = (f"list_transform(range(1, len({_SQL_TOKS})), "
                f"i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i+1])")


def _bigrams(text_col: str) -> F.Column:
    """Adjacent-token bigrams with repetition (n-gram LM statistics)."""
    t = T.tokens(text_col)
    return F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.element_at(t, i),
                                  F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bucket(bigram: F.Column) -> F.Column:
    return (F.conv(F.substring(F.md5(bigram), 1, 4), 16, 10)
            .cast("long") % _DSIR_B)


@query(
    "dsir_importance_topk",
    oracle=f"""
        WITH bg AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(unnest({_SQL_BIGRAMS})), 1, 4))
                        ::UBIGINT % {_DSIR_B} AS BIGINT) AS b
            FROM documents
        ),
        ndb AS (SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        raw AS (SELECT b, COUNT(*) AS cr FROM bg GROUP BY b),
        tgt AS (
            SELECT b, COUNT(*) AS ct FROM bg
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
        ),
        tot AS (
            SELECT (SELECT COUNT(*) FROM bg) AS rt,
                   (SELECT COUNT(*) FROM bg
                    WHERE lang = '{_DSIR_TARGET_LANG}') AS tt
        ),
        lr AS (
            SELECT raw.b,
                   CAST(FLOOR((
                       ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                          / CAST(tot.tt + {_DSIR_B} AS DOUBLE))
                       - ln(CAST(raw.cr + 1 AS DOUBLE)
                            / CAST(tot.rt + {_DSIR_B} AS DOUBLE))
                   ) * {_DSIR_UNIT} + 0.5) AS BIGINT) AS lrq
            FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot
        ),
        wt AS (
            SELECT doc_id, SUM(n * lrq) AS wi,
                   CAST(SUM(n) AS BIGINT) AS n_bigrams
            FROM ndb JOIN lr ON lr.b = ndb.b
            GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(wi AS DOUBLE) / CAST({_DSIR_UNIT} AS DOUBLE)
                   AS dsir_weight,
               n_bigrams
        FROM wt
        ORDER BY wi DESC, doc_id
        LIMIT {_DSIR_TOPK}
    """,
    tags=("E12", "EXT"),
    bench=True,
)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every raw document by how target-like
    its hashed-bigram distribution is — the importance weight is
    Σ_b n_db·(ln p_target[b] − ln p_raw[b]) over 256 hash buckets with
    Laplace smoothing, target = the 'en' slice of the corpus. Top-k by
    weight is the deterministic analog of DSIR's importance resample
    (compose with weighted_sample_aes for the sampled variant).

    The bucket log-ratio table is 256 rows broadcast to the per-doc
    aggregate; documents move once, as (doc, lang, bucket, n) triples
    with fan-out ≤ 256, and that single exchange is shared (Catalyst
    ReuseExchange) between the bucket-table and per-doc-weight
    branches. Quantized-long arithmetic end to end (module docstring)
    keeps both engines bit-identical."""
    # _right_size (1-task scan at sf0.1; no-op at scale) + explicit
    # no-op isNotNull on the bucket: the weight branch's join pushes
    # isnotnull(b) into ITS copy of the subtree but not into the
    # bucket-stats branch's, and the asymmetric filter defeats the
    # AQE stage reuse that runs the bigram explode once (without it,
    # at sf0.01 on 4 cores: 11 jobs instead of 9, 544 kB of shuffle
    # writes instead of 321 kB)
    d = _right_size(load_table(spark, sf_dir, "documents"))
    bg = (d.select("doc_id", "lang",
                   F.explode(_bigrams("text")).alias("bigram"))
          .select("doc_id", "lang", _bucket(F.col("bigram")).alias("b"))
          .filter(F.col("b").isNotNull()))
    # One corpus explode feeds everything: the (doc, lang, bucket)
    # aggregate (lang is doc-functional, so cardinality is unchanged)
    # rolls up to the 256-row bucket stats, the 1-row totals, and the
    # per-doc weights.  No localCheckpoint "materializes once" here:
    # under AQE it runs at PLAN-BUILD time, real corpus work before the
    # query's own action.  Sharing comes from AQE stage reuse instead: grouping keys are not prunable, so every
    # consumer of ndb sees the IDENTICAL (doc_id, lang, b) aggregate
    # exchange — the corpus explode runs once at runtime — and both
    # bs consumers likewise share its (b,) exchange.
    ndb = bg.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("n"))
    bs = ndb.groupBy("b").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("n"))
              .otherwise(F.lit(0))).alias("ct"),
    )
    tot = bs.agg(F.sum("cr").alias("rt"), F.sum("ct").alias("tt"))
    lrq = F.floor((
        F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
              / (F.col("tt") + _DSIR_B).cast("double"))
        - F.log((F.col("cr") + 1).cast("double")
                / (F.col("rt") + _DSIR_B).cast("double"))
    ) * F.lit(_DSIR_UNIT) + F.lit(0.5)).cast("long")
    lr = bs.join(F.broadcast(tot)).select("b", lrq.alias("lrq"))
    wt = (
        ndb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("lrq")).alias("wi"),
             F.sum("n").alias("n_bigrams"))
    )
    return (
        wt.orderBy(F.col("wi").desc(), F.col("doc_id"))
        .limit(_DSIR_TOPK)
        .select(
            "doc_id",
            (F.col("wi").cast("double")
             / F.lit(float(_DSIR_UNIT))).alias("dsir_weight"),
            "n_bigrams",
        )
    )
