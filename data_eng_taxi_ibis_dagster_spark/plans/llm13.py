"""LLM-data-pipeline queries, round 4 (cont.): sub-document
deduplication — exact substring spans (Lee et al.: every k-token
window occurring more than once ANYWHERE in the corpus, covered spans
cut out of the text), content-defined chunking (md5-gated boundaries,
shift-robust), MOSS winnowing fingerprints (window-min selection with
the shared-run guarantee) — plus exact PCA over the embedding corpus
(covariance from order-independent integer sums, strictly
oracle-checked; power-iteration projection whose only driver artifact
is the d×d matrix) and contrastive pair mining (hardest positive /
negative per anchor).

Scale shapes:

* Span dedup is the window-fingerprint pipeline: each document emits
  its k-token windows (row-local, whole-stage codegen), the corpus
  shuffles ONCE on the window key into a count aggregate, and
  duplicated-window positions flow back via an equi-join on the same
  key (ReuseExchange shares the window relation between both sides).
  Nothing ever compares documents pairwise — the cost is corpus-linear
  in emitted windows, the classic suffix-free approximation of the
  suffix-array dedup at cluster scale. Cleaning is then row-local
  again: covered indices collect per document (bounded by doc length)
  and the kept tokens re-join in order with no window function.
* Covariance is ONE pass producing d(d+1)/2 + d exact integer sums
  (map-side partial aggregation collapses the per-row outer-product
  explosion before the single shuffle); every emitted double is a
  textually-mirrored closed form over those integers, so DuckDB
  matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators import similarity as S
from data_eng_taxi_ibis_dagster_spark.operators.dedup import _right_size
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table

#: Duplicated-span window length in tokens. Lee et al. use 50 BPE
#: tokens on web text; the fixture documents run 10–99 whitespace
#: tokens, so 16 keeps the same "long enough that shared windows imply
#: copying" property at fixture scale.
SPAN_K = 16

#: Non-empty whitespace tokens (fixture text carries a trailing space,
#: so the raw split has a trailing "" that must not become a token).
_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def _toks() -> Column:
    return F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))


def _windows(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, s, w): every k-token window of every document, 1-based
    start position, space-joined window string."""
    t = _toks()
    starts = F.when(
        F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        _right_size(d).select("doc_id", t.alias("t"),
                              F.explode(starts).alias("s"))
        # shuffle the md5 fingerprint, not the ~100-byte window text —
        # and as 16-byte BINARY (unhex), not the 32-char hex string:
        # the fingerprint is only ever compared for EQUALITY (the
        # occurrence count), so the lossless narrowing halves the one
        # corpus-scale exchange (round 12, guide §2.3).  The oracle
        # hashes identically in hex; only counts are compared, so the
        # encoding never crosses engines.
        .select("doc_id", "s",
                F.unhex(
                    F.md5(F.array_join(F.slice(F.col("t"), F.col("s"), k),
                                       " ")))
                .alias("w"))
    )


def _marked(d: DataFrame, k: int) -> DataFrame:
    """Windows annotated with their global occurrence count c.

    The count stays a groupBy(w) + join-back, NOT a count-over-window
    on the fingerprint partition: a round-12 draft tried the window
    form (one evaluation of the corpus-scale window relation instead
    of two join sides) and the repo's own scale lint rejected it —
    ``w`` is a corpus-scaling content hash, and a window partitioned
    by it funnels every occurrence of one boilerplate window text
    through ONE task with no AQE skew split and no map-side partial
    aggregation.  The groupBy keeps partial aggregation (hot ``w``
    collapses to one partial row per map task) and the join-back is
    AQE-skew-splittable; the double evaluation of ``wins`` is the
    price of the scale-safe shape.  (A round-12 localCheckpoint
    attempt to evaluate it once was reverted with measurements:
    under AQE the "lazy" checkpoint materializes at plan-build time
    as serial jobs, and honest build+write timing read slower than
    the concurrent duplicated subtrees — the operators/dedup module
    docstring has the full account.)"""
    wins = _windows(d, k)
    cnt = wins.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return wins.join(cnt, "w")


def _doc_spans(d: DataFrame, k: int) -> DataFrame:
    """Per-document span statistics in ONE aggregation over the marked
    windows: window counts plus the sorted start positions of
    duplicated windows. Covered-position sets are then derived
    ROW-LOCALLY (flatten the [s, s+k-1] ranges and distinct them —
    overlapping spans merge inside the array), so span coverage costs
    no second shuffle and no per-position explode."""
    return _marked(d, k).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("dup_windows"),
        F.sort_array(F.collect_list(F.when(F.col("c") >= 2, F.col("s"))))
        .alias("dup_starts"),
    )


def _cov_array(k: int) -> Column:
    """Distinct covered token positions from the sorted dup starts."""
    return F.array_distinct(F.flatten(F.transform(
        F.col("dup_starts"), lambda s: F.sequence(s, s + (k - 1)))))


_SPAN_CTES = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ),
        wins AS (
            SELECT doc_id, s, array_to_string(t[s:s+{SPAN_K - 1}], ' ') AS w
            FROM toks, unnest(generate_series(1, len(t) - {SPAN_K} + 1)) AS g(s)
        ),
        cnt AS (SELECT w, COUNT(*) AS c FROM wins GROUP BY w),
        marked AS (SELECT doc_id, s, c FROM wins JOIN cnt USING (w)),
        doc_spans AS (
            SELECT doc_id, COUNT(*) AS n_windows,
                   SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup_windows,
                   list_sort(list(s) FILTER (WHERE c >= 2)) AS dup_starts
            FROM marked GROUP BY doc_id
        ),
        covset AS (
            SELECT doc_id, n_windows, dup_windows,
                   list_distinct(flatten(list_transform(
                       dup_starts,
                       s -> generate_series(s, s + {SPAN_K - 1})))) AS cov
            FROM doc_spans
        )
"""


@query(
    "dedup_span_windows",
    bench=True,
    oracle=_SPAN_CTES + """
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.dup_windows, 0) AS BIGINT) AS dup_windows,
               CAST(COALESCE(len(p.cov), 0) AS BIGINT) AS covered_tokens,
               CASE WHEN COALESCE(p.n_windows, 0) > 0
                    THEN CAST(COALESCE(p.dup_windows, 0) AS DOUBLE)
                         / CAST(p.n_windows AS DOUBLE)
                    ELSE 0.0 END AS dup_fraction
        FROM toks t
        LEFT JOIN covset p USING (doc_id)
    """,
    tags=("E10", "E12", "EXT"),
)
def dedup_span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication profile per document: how many of
    its k-token windows occur ≥ 2 times anywhere in the corpus, and how
    many token positions those duplicated windows cover. The detection
    half of Lee et al.-style span dedup — one corpus shuffle on the
    window fingerprint, no pairwise comparison (cf. the reference's
    whole-row dedup surface; this extends it below row granularity)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = _doc_spans(d, SPAN_K)
    base = d.select("doc_id", F.size(_toks()).cast("long").alias("n_tokens"))
    nw = F.coalesce(F.col("n_windows"), F.lit(0)).cast("long")
    dw = F.coalesce(F.col("dup_windows"), F.lit(0)).cast("long")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            nw.alias("n_windows"), dw.alias("dup_windows"),
            F.coalesce(F.size(_cov_array(SPAN_K)), F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.when(nw > 0, dw.cast("double")
                   / F.col("n_windows").cast("double"))
            .otherwise(F.lit(0.0)).alias("dup_fraction"),
        )
    )


@query(
    "dedup_span_removal",
    oracle=_SPAN_CTES + """
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(generate_series(1, len(t.t)),
                                    i -> NOT list_contains(c.cov, i)))
                    AS BIGINT) AS kept_tokens,
               -- COALESCE: DuckDB's array_to_string([]) is NULL where
               -- Spark's array_join([]) is '' — fully-covered documents
               -- must agree on the empty string
               COALESCE(array_to_string(
                   list_transform(
                       list_filter(generate_series(1, len(t.t)),
                                   i -> NOT list_contains(c.cov, i)),
                       i -> t.t[i]),
                   ' '), '') AS cleaned_text
        FROM toks t JOIN covset c USING (doc_id)
        WHERE c.dup_windows > 0
    """,
    tags=("E10", "E12", "EXT"),
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact substring-span dedup: for every
    document containing at least one globally-duplicated k-token
    window, cut ALL covered token positions out and emit the cleaned
    text (remaining tokens re-joined in order). Overlapping duplicated
    windows merge through the distinct covered-index set, so a long
    copied passage is excised once, exactly — the operation that
    whole-document dedup cannot express (a boilerplate footer inside
    otherwise-unique pages survives MinHash but not this).

    Scale: covered indices aggregate per document into a ≤doc-length
    array, and cleaning is a row-local higher-order filter — no window
    function, no second corpus shuffle (the join key is doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    covset = (
        _doc_spans(d, SPAN_K)
        .filter(F.col("dup_windows") > 0)
        .select("doc_id", _cov_array(SPAN_K).alias("cov"))
    )
    base = d.select("doc_id", _toks().alias("t"))
    kept = F.filter(
        F.sequence(F.lit(1), F.size(F.col("t"))),
        lambda i: ~F.array_contains(F.col("cov"), i),
    )
    return (
        base.join(covset, "doc_id")
        .select(
            "doc_id",
            F.size(F.col("t")).cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("kept_tokens"),
            F.array_join(
                F.transform(kept,
                            lambda i: F.element_at(F.col("t"), i)),
                " ").alias("cleaned_text"),
        )
    )


_COV_SQL = """
        WITH q AS (
            SELECT list_transform(embedding::DOUBLE[],
                                  x -> CAST(FLOOR(x * 1000000 + 0.5)
                                            AS BIGINT)) AS qv
            FROM embeddings
        ),
        pairs AS (
            SELECT i, j, COUNT(*) AS n_vec,
                   SUM(CAST(qv[i] * qv[j] AS DECIMAL(38,0))) AS sij
            FROM q, unnest(generate_series(1, len(qv))) AS t(i),
                 unnest(generate_series(1, len(qv))) AS u(j)
            WHERE j >= i
            GROUP BY i, j
        ),
        dims AS (
            SELECT i, SUM(CAST(qv[i] AS DECIMAL(38,0))) AS si
            FROM q, unnest(generate_series(1, len(qv))) AS t(i)
            GROUP BY i
        ),
        diag AS (
            SELECT p.i,
                   CAST(p.n_vec AS DOUBLE) * CAST(p.sij AS DOUBLE)
                   - CAST(d.si AS DOUBLE) * CAST(d.si AS DOUBLE) AS var_n
            FROM pairs p JOIN dims d USING (i) WHERE p.i = p.j
        )
        SELECT p.i AS dim_i, p.j AS dim_j,
               CAST(p.n_vec AS BIGINT) AS n_vec,
               (CAST(p.n_vec AS DOUBLE) * CAST(p.sij AS DOUBLE)
                - CAST(di.si AS DOUBLE) * CAST(dj.si AS DOUBLE))
                   / (CAST(p.n_vec AS DOUBLE) * CAST(p.n_vec AS DOUBLE))
                   / 1000000000000.0 AS cov,
               (CAST(p.n_vec AS DOUBLE) * CAST(p.sij AS DOUBLE)
                - CAST(di.si AS DOUBLE) * CAST(dj.si AS DOUBLE))
                   / SQRT(vi.var_n * vj.var_n) AS corr
        FROM pairs p
        JOIN dims di ON di.i = p.i
        JOIN dims dj ON dj.i = p.j
        JOIN diag vi ON vi.i = p.i
        JOIN diag vj ON vj.i = p.j
"""


@query(
    "embedding_covariance",
    bench=True,
    oracle=_COV_SQL,
    tags=("E8", "E11", "E15", "EXT"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance and Pearson correlation of every embedding
    dimension pair (upper triangle, d(d+1)/2 rows), from
    order-independent integer sums — the distributed half of PCA and
    the oracle-able counterpart of a float accumulator whose result
    would depend on partition order. Every double below is a
    textually-mirrored closed form over exact integers shared with the
    oracle, so the comparison is bit-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs, dims = S.covariance_sums(emb, vec_col="embedding")
    diag = (
        pairs.filter(F.col("i") == F.col("j"))
        .join(dims.select("i", "si"), "i")
        .select(
            "i",
            (F.col("n_vec").cast("double") * F.col("sij").cast("double")
             - F.col("si").cast("double") * F.col("si").cast("double"))
            .alias("var_n"))
    )
    di = dims.select(F.col("i").alias("_ii"), F.col("si").alias("si_i"))
    dj = dims.select(F.col("i").alias("_jj"), F.col("si").alias("si_j"))
    vi = diag.select(F.col("i").alias("_vi"), F.col("var_n").alias("var_i"))
    vj = diag.select(F.col("i").alias("_vj"), F.col("var_n").alias("var_j"))
    nd = F.col("n_vec").cast("double")
    cov_n = (nd * F.col("sij").cast("double")
             - F.col("si_i").cast("double") * F.col("si_j").cast("double"))
    return (
        pairs
        .join(F.broadcast(di), pairs["i"] == di["_ii"])
        .join(F.broadcast(dj), pairs["j"] == dj["_jj"])
        .join(F.broadcast(vi), pairs["i"] == vi["_vi"])
        .join(F.broadcast(vj), pairs["j"] == vj["_vj"])
        .select(
            F.col("i").alias("dim_i"), F.col("j").alias("dim_j"),
            F.col("n_vec").cast("long").alias("n_vec"),
            (cov_n / (nd * nd) / F.lit(1000000000000.0)).alias("cov"),
            (cov_n / F.sqrt(F.col("var_i") * F.col("var_j"))).alias("corr"),
        )
    )


@query(
    "embedding_pca_project",
    oracle=None,  # power iteration over the covariance matrix — not
                  # SQL-expressible; deterministic (fixed start vector,
                  # fixed iteration count, no RNG); the distributed
                  # covariance input IS strictly checked by
                  # embedding_covariance, and pytest pins the spectral
                  # properties (Rayleigh quotient, orthogonality,
                  # projection variance ≈ eigenvalue)
    tags=("E11", "E15", "EXT"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-2 principal
    components. Distributed work = the one covariance pass (strictly
    verified as ``embedding_covariance``) + a row-local centered dot
    product against broadcast-literal components; the d×d eigen-solve
    is a bounded driver artifact, exactly like k-means centroids
    (operators/similarity.py:pca_top_components)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps, eigs, mean = S.pca_top_components(
        emb, vec_col="embedding", n_components=2)
    mean_lit = F.array(*[F.lit(m) for m in mean])
    centered = F.zip_with(S.as_double("embedding"), mean_lit,
                          lambda x, m: x - m)
    p1 = F.array(*[F.lit(c) for c in comps[0]])
    p2 = F.array(*[F.lit(c) for c in comps[1]])
    return emb.select(
        "vec_id", "label",
        S.dot(centered, p1).alias("pc1"),
        S.dot(centered, p2).alias("pc2"),
        F.lit(eigs[0]).alias("eig1"),
        F.lit(eigs[1]).alias("eig2"),
    )


_ANCHOR_COS = S.sql_cosine("a.avec", "e.embedding")


@query(
    "contrastive_pair_mining",
    oracle=f"""
        WITH anchors AS (
            SELECT vec_id AS anchor_id, label AS anchor_label,
                   embedding AS avec
            FROM embeddings WHERE vec_id % 10 = 0
        ),
        cand AS (
            SELECT a.anchor_id, a.anchor_label, e.vec_id AS match_id,
                   e.label AS match_label,
                   {_ANCHOR_COS} AS sim
            FROM anchors a, embeddings e
            WHERE e.vec_id <> a.anchor_id
        ),
        pos AS (
            SELECT anchor_id, match_id AS pos_id, sim AS pos_sim
            FROM cand WHERE match_label = anchor_label
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY anchor_id ORDER BY sim DESC, match_id) = 1
        ),
        neg AS (
            SELECT anchor_id, match_id AS neg_id, sim AS neg_sim
            FROM cand WHERE match_label <> anchor_label
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY anchor_id ORDER BY sim DESC, match_id) = 1
        )
        SELECT a.anchor_id, a.anchor_label,
               p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
               p.pos_sim - n.neg_sim AS margin
        FROM anchors a JOIN pos p USING (anchor_id)
                       JOIN neg n USING (anchor_id)
    """,
    tags=("E11", "EXT"),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning pair mining over the embedding corpus: for
    every anchor, the hardest positive (most-similar vector of the SAME
    label, excluding itself) and the hardest negative (most-similar
    vector of a DIFFERENT label), plus the triplet margin — the data
    op behind hard-negative mining for retrieval/embedding training.

    Scale shape: the anchor set is the broadcast side (here a 10%%
    systematic probe; in production the per-batch anchor set), the
    corpus streams through one pass, and WindowGroupLimit keeps one
    row per (anchor, branch) per partition — the same brute-force-
    by-design baseline as ``similarity_cosine_topk``; the SRP/IVF
    bucketed paths are the registered 100 TB variants. Cosine is the
    sequential-fold dot product, bit-identical to DuckDB."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = (emb.filter(F.col("vec_id") % 10 == 0)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("embedding").alias("avec")))
    cand = (
        F.broadcast(anchors).crossJoin(emb)
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", "anchor_label",
                F.col("vec_id").alias("match_id"),
                F.col("label").alias("match_label"),
                S.cosine(S.as_double("avec"), S.as_double("embedding"))
                .alias("sim"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("match_id"))
    pos = (cand.filter(F.col("match_label") == F.col("anchor_label"))
           .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
           .select("anchor_id", F.col("match_id").alias("pos_id"),
                   F.col("sim").alias("pos_sim")))
    neg = (cand.filter(F.col("match_label") != F.col("anchor_label"))
           .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
           .select("anchor_id", F.col("match_id").alias("neg_id"),
                   F.col("sim").alias("neg_sim")))
    return (
        anchors.select("anchor_id", "anchor_label")
        .join(pos, "anchor_id").join(neg, "anchor_id")
        .select("anchor_id", "anchor_label", "pos_id", "pos_sim",
                "neg_id", "neg_sim",
                (F.col("pos_sim") - F.col("neg_sim")).alias("margin"))
    )


#: CDC boundary probability 1/8 (first md5 hex digit ∈ {0,1}) → mean
#: chunk length 8 tokens; chunks shorter than this are too collision-
#: prone on a small vocabulary to witness duplication.
_CDC_MIN_LEN = 4

_CDC_CTES = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ),
        b AS (
            SELECT doc_id, t,
                   list_filter(generate_series(1, len(t)),
                               p -> substr(md5(t[p]), 1, 1) IN ('0','1')
                                    OR p = len(t)) AS bounds
            FROM toks
        ),
        chunks AS (
            SELECT doc_id, t,
                   unnest(list_transform(bounds,
                       (e, j) -> struct_pack(
                           s := CASE WHEN j = 1 THEN 1
                                     ELSE bounds[j-1] + 1 END,
                           e := e))) AS ch
            FROM b
        ),
        cc AS (
            SELECT doc_id, ch.e - ch.s + 1 AS ln,
                   md5(array_to_string(t[ch.s:ch.e], ' ')) AS ctext
            FROM chunks
            WHERE ch.e - ch.s + 1 >= {_CDC_MIN_LEN}
        ),
        cnt AS (SELECT ctext, COUNT(*) AS c FROM cc GROUP BY ctext),
        stats AS (
            SELECT doc_id, COUNT(*) AS n_chunks,
                   SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup_chunks,
                   SUM(CASE WHEN c >= 2 THEN ln ELSE 0 END)
                       AS dup_chunk_tokens
            FROM cc JOIN cnt USING (ctext)
            GROUP BY doc_id
        )
"""


@query(
    "dedup_cdc_chunks",
    bench=True,
    oracle=_CDC_CTES + """
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(s.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(s.dup_chunks, 0) AS BIGINT) AS dup_chunks,
               CAST(COALESCE(s.dup_chunk_tokens, 0) AS BIGINT)
                   AS dup_chunk_tokens
        FROM toks t LEFT JOIN stats s USING (doc_id)
    """,
    tags=("E10", "E12", "EXT"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup: chunk boundaries are placed
    where the token's own md5 starts with hex 0 or 1 (p = 1/8 → mean
    chunk 8 tokens), so an insertion or deletion only perturbs its OWN
    chunk — unlike fixed windows, the chunking re-synchronizes
    immediately after the edit (the rsync/LBFS property, the standard
    storage-dedup complement to Lee-et-al window dedup). Chunks of ≥ 4
    tokens are counted globally and every document reports how many of
    its chunks (and how many tokens inside them) occur elsewhere.

    Scale shape: chunking is entirely row-local higher-order array
    math (no shuffle), the global chunk count is the one shuffle on
    the chunk text key, and the md5 boundary rule is engine-portable —
    the oracle mirrors it call for call."""
    d = load_table(spark, sf_dir, "documents")
    w1 = _right_size(d).select("doc_id", _toks().alias("t"))
    n = F.size(F.col("t"))
    w2 = w1.select(
        "doc_id", "t",
        F.filter(
            F.sequence(F.lit(1), n),
            lambda p: F.substring(F.md5(F.element_at(F.col("t"), p)), 1, 1)
            .isin("0", "1") | (p == n),
        ).alias("bounds"))
    # Spark transform lambda indices are 0-based (DuckDB's are 1-based):
    # j == 0 is the first chunk; element_at(bounds, j) is the previous
    # boundary for j ≥ 1.
    chunk_structs = F.transform(
        F.col("bounds"),
        lambda e, j: F.struct(
            F.when(j == 0, F.lit(1))
            .otherwise(F.element_at(F.col("bounds"), j) + 1).alias("s"),
            e.alias("e")))
    cc = (
        w2.select("doc_id", "t", F.explode(chunk_structs).alias("ch"))
        .select("doc_id",
                (F.col("ch.e") - F.col("ch.s") + 1).alias("ln"),
                F.md5(F.array_join(
                    F.slice(F.col("t"), F.col("ch.s"),
                            F.col("ch.e") - F.col("ch.s") + 1), " "))
                .alias("ctext"))
        .filter(F.col("ln") >= _CDC_MIN_LEN)
    )
    cnt = cc.groupBy("ctext").agg(F.count(F.lit(1)).alias("c"))
    stats = (
        cc.join(cnt, "ctext")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
             .alias("dup_chunks"),
             F.sum(F.when(F.col("c") >= 2, F.col("ln")).otherwise(0))
             .alias("dup_chunk_tokens"))
    )
    base = w1.select("doc_id", F.size(F.col("t")).cast("long")
                     .alias("n_tokens"))
    return (
        base.join(stats, "doc_id", "left")
        .select("doc_id", "n_tokens",
                F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long")
                .alias("n_chunks"),
                F.coalesce(F.col("dup_chunks"), F.lit(0)).cast("long")
                .alias("dup_chunks"),
                F.coalesce(F.col("dup_chunk_tokens"), F.lit(0)).cast("long")
                .alias("dup_chunk_tokens"))
    )


#: Winnowing parameters: k-gram length and window of consecutive gram
#: hashes; density of selected fingerprints ≈ 2/(w+1).
_WIN_K = 8
_WIN_W = 4

_WINNOW_CTES = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS_SQL} AS t FROM documents
        ),
        g AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(t[i:i+{_WIN_K - 1}], ' ')) AS gh
            FROM toks,
                 unnest(generate_series(1, len(t) - {_WIN_K} + 1)) AS u(i)
        ),
        w AS (
            SELECT doc_id, pos,
                   MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW
                                 AND {_WIN_W - 1} FOLLOWING) AS wmin,
                   MAX(pos) OVER (PARTITION BY doc_id) AS mx
            FROM g
        ),
        sel AS (
            SELECT DISTINCT doc_id, wmin AS f
            FROM w WHERE pos <= GREATEST(mx - {_WIN_W - 1}, 1)
        ),
        cnt AS (SELECT f, COUNT(*) AS c FROM sel GROUP BY f)
"""


@query(
    "fingerprint_winnowing",
    bench=True,
    oracle=_WINNOW_CTES + """
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
               CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS shared_fingerprints
        FROM sel s JOIN cnt ON cnt.f = s.f
        GROUP BY s.doc_id
    """,
    tags=("E10", "E12", "EXT"),
)
def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken —
    the MOSS plagiarism-detection scheme): hash every k-gram, slide a
    w-window over the hash sequence, keep the minimum hash of each
    window — guaranteeing any shared run of ≥ w+k-1 tokens shares at
    least one selected fingerprint, at ~2/(w+1) the storage of full
    k-gram sets. Emits per-doc selected-fingerprint counts and how
    many are shared with other documents. (Documents with fewer than
    w gram positions contribute their single tail-window minimum.)

    Scale shape: gram hashes explode to (doc, pos, hash) rows ONCE and
    the window minimum is a real sliding frame partitioned by doc —
    the first formulation kept the hash sequence as a per-row array
    and Catalyst inlined the md5-building transform into every
    window slice across several consumers (O(m²) hashing × fan-out:
    111 s at sf0.1); the exploded frame computes each hash exactly
    once (1.3 s). Hash ORDER is lexicographic over md5 hex —
    identical in both engines, so selection mirrors exactly; only the
    ~2/(w+1) selected sample reaches the cross-doc shuffle.

    The selection itself lives in
    ``operators/dedup.winnow_fingerprints`` (round 9 — it doubles as
    the bounded block key of the exact pair verifiers; plan verified
    identical to the former inline formulation, so the r5 external
    row still attests this plan)."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        winnow_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    sel = winnow_fingerprints(d, k=_WIN_K, w=_WIN_W)
    # Cross-doc share count stays groupBy(f) + join-back — a round-12
    # draft replaced it with a count-over-window on the fingerprint
    # partition (one evaluation of the winnowing pipeline instead of
    # two join sides) and the scale lint rejected it: ``f`` is a
    # corpus-scaling content hash with no df cap here (boilerplate
    # grams are part of the declared answer), so the window funnels a
    # hot fingerprint's whole group through one task with no AQE skew
    # split.  groupBy keeps map-side partial aggregation and the
    # join-back is skew-splittable; the double evaluation of ``sel``
    # is the price of the scale-safe shape (the round-12
    # localCheckpoint attempt measured slower — plan-build-time serial
    # materialization under AQE; see the operators/dedup module
    # docstring).
    cnt = sel.groupBy("f").agg(F.count(F.lit(1)).alias("c"))
    return (
        sel.join(cnt, "f")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
             F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).cast("long")
             .alias("shared_fingerprints"))
    )
