"""LLM-data-pipeline queries, round 6: the composed retrieval stack
(the realistic serving shape — each approximation tier winnows for
the next, more exact one) and the approximate-aggregate exact-regime
audit (the strict twin the rows-only ``approx_aggregates`` lacked).

Same portable-pair contract as every module (Spark DataFrame plan +
DuckDB oracle over the same parquet;
``/root/reference/taxi_pipeline.py:89-147`` is the 387-line pattern
this generalizes). Engine-parity notes:

* ``retrieval_stack_audit`` runs the REAL three-stage pipeline
  (operators/pq.retrieval_stack — the same function the production
  query executes) with the identity codebook, where the PQ re-rank is
  provably a full-precision re-rank — so the whole composition
  (prefix shortlist cut, candidate semi-joins, encode/reconstruct,
  facet MaxSim, every tie-break) is hash-pinned by one SQL rendering.
* ``approx_exact_regime_audit`` pins the approximate-aggregate
  surface in configurations where the sketches are provably or
  deterministically exact: a DataSketches HLL below its sparse-mode
  promotion threshold IS an exact distinct count, and a
  ``percentile_approx`` whose accuracy exceeds the group row count
  degenerates to the exact discrete percentile (DuckDB
  ``quantile_disc``). Drift in hashing, merge, or quantile-summary
  logic breaks the hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators import dedup as D
from data_eng_taxi_ibis_dagster_spark.operators import pq as PQ
from data_eng_taxi_ibis_dagster_spark.operators import similarity as S
from data_eng_taxi_ibis_dagster_spark.operators import text as T
from data_eng_taxi_ibis_dagster_spark.plans.registry import query
from data_eng_taxi_ibis_dagster_spark.sources.sinks import scratch_dir
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def _maxsim_cases_sql() -> str:
    # fixed-order addition of the 4 per-facet maxima (mirrors the
    # literal + chain in operators/pq.retrieval_stack)
    return " + ".join(
        f"MAX(CASE WHEN qsub = {s} THEN sim END)" for s in range(4))


_STACK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
         pre AS (
             SELECT query_id, match_id,
                    {S.sql_cosine('qv[1:16]', 'cv[1:16]')} AS sim_pre
             FROM q CROSS JOIN c
             WHERE query_id != match_id
         ),
         short AS (
             SELECT query_id, match_id FROM (
                 SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id
                     ORDER BY sim_pre DESC, match_id ASC) AS srnk
                 FROM pre
             ) WHERE srnk <= 50
         ),
         pqr AS (
             SELECT s.query_id, s.match_id,
                    {S.sql_cosine('q.qv', 'c.cv')} AS sim_pq
             FROM short s
             JOIN q ON s.query_id = q.query_id
             JOIN c ON s.match_id = c.match_id
         ),
         keep AS (
             SELECT query_id, match_id FROM (
                 SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id
                     ORDER BY sim_pq DESC, match_id ASC) AS prnk
                 FROM pqr
             ) WHERE prnk <= 15
         ),
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
             SELECT k.query_id, k.match_id, qs.qsub,
                    MAX({S.sql_cosine('qs.qsv', 'cs.csv')}) AS sim
             FROM keep k
             JOIN qs ON k.query_id = qs.query_id
             JOIN cs ON k.match_id = cs.match_id
             GROUP BY k.query_id, k.match_id, qs.qsub
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
"""


@query(
    "retrieval_stack_audit",
    oracle=_STACK_ORACLE,
    tags=("E11", "audit"),
)
def retrieval_stack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed serving stack (operators/pq.retrieval_stack — the
    SAME function the production query runs) with the identity
    codebook: the PQ re-rank stage reconstructs bit-exactly, so stage
    2 provably equals a full-precision cosine re-rank and the entire
    three-stage composition — quarter-width shortlist, candidate
    semi-joins, encode/min_by/reconstruct, facet MaxSim with the
    fixed-order sum, and all three per-query cuts (the shared
    ``operators.similarity._topk`` tie-break) — is hash-checked
    against one DuckDB rendering. Any drift anywhere in the stack
    (a lost tie-break, a facet boundary off-by-one, an encode join
    regression) breaks this twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_exact(emb, m=8, dim=64)
    return PQ.retrieval_stack(
        emb.filter(F.col("vec_id") < 5), emb, book,
        m=8, dim=64, shortlist=50, pq_keep=15, k=5, facets=4)


@query(
    "retrieval_stack_topk",
    oracle=None,  # Lloyd float codebooks in stage 2 → rows-only
    tags=("E11",),
    bench=True,
)
def retrieval_stack_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production retrieval stack: matryoshka quarter-width shortlist
    (50/query) → Lloyd-codebook PQ re-rank (15/query) → full-precision
    MaxSim final (top-5). The realistic serving shape: the only
    corpus-wide scan reads prefix bytes, the PQ stage reads m-byte
    codes for ≤ |Q|·50 candidates, and the expensive late-interaction
    scoring touches ≤ |Q|·15 rows. The audit twin
    (``retrieval_stack_audit``) hash-pins the identical composition
    with the lossless codebook; recall vs exact MaxSim-over-everything
    is asserted in tests/test_pq.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = PQ.train_codebooks_lloyd(emb, m=8, dim=64, k=16, iters=2)
    return PQ.retrieval_stack(
        emb.filter(F.col("vec_id") < 5), emb, book,
        m=8, dim=64, shortlist=50, pq_keep=15, k=5, facets=4)


# ---------------------------------------------------------------------------
# Approximate aggregates, pinned in their exact regime
# ---------------------------------------------------------------------------

@query(
    "approx_exact_regime_audit",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT hour(ts)) AS nd_hours,
               COUNT(DISTINCT hour(ts)) AS nd_hours_acd,
               COUNT(DISTINCT user_id % 127) AS nd_user_buckets,
               quantile_disc(value, 0.5)  AS value_p50,
               quantile_disc(value, 0.95) AS value_p95,
               quantile_disc(value, 0.99) AS value_p99
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("E8", "audit"),
)
def approx_exact_regime_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-aggregate machinery (``approx_aggregates``'s
    rows-only surface) pinned strictly in regimes where the sketches
    are exact AT EVERY SCALE, so the hashing/merge/summary logic gets
    a hash-checked external row with no fixture-regime caveat:

    * ``hll_sketch_agg`` (DataSketches HLL) is exact while the sketch
      stays in its coupon LIST/SET representation with margin; every
      pinned column therefore has a BOUNDED value domain that is the
      same at every sf — hour-of-day (24 values, lgK=12) and a
      127-bucket projection of user_id (lgK=14: ``spark.range`` probes
      show the coupon estimate drifts within a ~4x margin of 2^lgK/4,
      e.g. 997 distinct reads 994 at lgK=12 but 1500 reads 1500 at
      lgK=14, so the domain is held ≥32x under the mode boundary).
      Through round 9 this column was raw ``user_id``, exact at the
      sf0.01 gate's 150/type but measured 1480-vs-1500 at sf0.1 —
      bounding the DOMAIN instead of the fixture makes the pin
      scale-invariant: the 127 possible bucket values (hence their
      coupons) are literally the same set at any corpus size, and
      coupon-set uniqueness over that full domain is asserted once in
      ``tests/test_audit_fixture_bounds.py``.
    * ``approx_count_distinct`` (HLL++, rsd=0.005 → dense high-p
      registers) is deterministic given the merged registers and
      empirically exact at 24-distinct scale — same bounded-domain
      argument.
    * ``percentile_approx`` with accuracy ≥ the group row count
      retains every observation in its quantile summary and
      degenerates to the exact discrete percentile — the value DuckDB
      ``quantile_disc`` defines (smallest element whose cumulative
      rank reaches p). Accuracy is DERIVED at plan build from the
      observed max per-type row count (4x margin, floor 1e6) — one
      cheap count aggregate, the same build-time-job convention as
      Lloyd training — so growing fixtures can't silently cross it.

    Unbounded-cardinality columns remain the estimator surface the
    rows-only twin covers."""
    ev = load_table(spark, sf_dir, "events")
    max_group = (ev.groupBy("event_type").count()
                 .agg(F.max("count").alias("mx")).first()["mx"]) or 0
    accuracy = max(1_000_000, 4 * int(max_group))
    if accuracy > 2**31 - 1:
        # percentile_approx's accuracy is a positive int32 literal, and
        # at this size the exact regime buffers ~every observation per
        # group anyway — past ~536 M rows per event_type the strict
        # audit regime is simply not materializable; fail with intent
        # rather than an opaque Catalyst literal error.
        raise ValueError(
            "approx_exact_regime_audit: exact-regime accuracy "
            f"{accuracy} exceeds int32; the per-group row count "
            f"({max_group}) is past the strict audit's exact regime — "
            "use the rows-only estimator twin at this scale")
    pcts = F.percentile_approx("value", [0.5, 0.95, 0.99], accuracy)
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(hour(ts), 12))")
            .alias("nd_hours"),
            F.approx_count_distinct(F.hour("ts"), 0.005)
            .alias("nd_hours_acd"),
            F.expr(
                "hll_sketch_estimate("
                "hll_sketch_agg(pmod(user_id, 127), 14))")
            .alias("nd_user_buckets"),
            pcts.alias("_pcts"),
        )
    )
    return (
        agg.select(
            "event_type",
            "nd_hours", "nd_hours_acd", "nd_user_buckets",
            F.col("_pcts")[0].alias("value_p50"),
            F.col("_pcts")[1].alias("value_p95"),
            F.col("_pcts")[2].alias("value_p99"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# The composed curation pipeline (gate -> exact dedup -> near dedup -> stats)
# ---------------------------------------------------------------------------

_CURATION_JACC = (
    "CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)"
    " / CAST(len(a.s) + len(b.s)"
    " - len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)"
)


def _curation_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged min-label CC labels over the gated, fingerprint-deduped
    corpus's near-dup pairs: the prefix ``curation_stack`` and
    ``curation_best_rep`` share. The CC loop runs eagerly, so each
    build pays it at plan build."""
    docs1 = _gated_fp_deduped(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(
        docs1.select("doc_id", "text"), threshold=0.6, exact_recall=True)
    return D.dedup_clusters(pairs)


def _gated_fp_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-2 of the curation pipeline (quality/lang gate, then
    exact fingerprint dedup) — shared by ``curation_stack`` and its
    benchable lazy half ``curation_pairs``."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    q = T.quality_score("text")
    gated = (
        d.filter((q >= 0.5) & F.col("lang").isin("en", "de", "fr"))
        .select(
            "doc_id", "text", "lang",
            T.lang_pred(toks).alias("lang_pred"),
            q.alias("quality"),
            F.size(toks).alias("n_tokens"),
            T.fingerprint("text").alias("fp"),
        )
    )
    keep_fp = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return gated.join(keep_fp, ["fp", "doc_id"], "left_semi")


def _curation_oracle() -> str:
    q = T.sql_quality_score("text")
    lp = T.sql_lang_pred("string_split(text, ' ')")
    fp = T.sql_fingerprint("text")
    sh = T.sql_shingles("string_split(text, ' ')", 3)
    return f"""
        WITH RECURSIVE gated AS (
            SELECT doc_id, text, lang,
                   {lp} AS lang_pred,
                   {q} AS quality,
                   len(string_split(text, ' ')) AS n_tokens,
                   {fp} AS fp
            FROM documents
            WHERE {q} >= 0.5 AND lang IN ('en', 'de', 'fr')
        ),
        keep_fp AS (
            SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
        ),
        docs1 AS (
            SELECT g.* FROM gated g JOIN keep_fp k
              ON g.fp = k.fp AND g.doc_id = k.doc_id
        ),
        sh AS (SELECT doc_id, {sh} AS s FROM docs1),
        pairs AS (
            SELECT a.doc_id AS pa, b.doc_id AS pb
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE {_CURATION_JACC} >= 0.6
        ),
        edges AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION
            SELECT pb AS src, pa AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        drop_docs AS (
            SELECT src AS doc_id FROM reach
            GROUP BY src HAVING MIN(dst) < src
        )
        SELECT doc_id, lang, lang_pred, quality, n_tokens
        FROM docs1
        WHERE doc_id NOT IN (SELECT doc_id FROM drop_docs)
        ORDER BY doc_id
    """


@query(
    "curation_stack",
    oracle=_curation_oracle(),
    tags=("E9", "E10", "E12", "EXT"),
    bench=True,
)
def curation_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline, end-to-end as ONE
    query — the curation analog of ``retrieval_stack``:

    1. **Gate** (row-local, codegen'd): quality score ≥ 0.5 AND labeled
       language in the allowlist; the stopword-profile ``lang_pred`` is
       carried through so the predictor is hash-pinned in composition.
    2. **Exact dedup**: min doc_id per content fingerprint (groupBy on
       the 16-byte fp + left-semi join back — one compact-key shuffle).
    3. **Near dedup**: the production MinHash(32)+LSH(8×4) pair
       pipeline on the survivors, exact-Jaccard-verified at 0.6, then
       connected-components min-label canonicalization
       (``operators/dedup.dedup_clusters``) — non-representatives are
       anti-joined away.
    4. **Emit** per-doc curation stats (lang, lang_pred, quality,
       n_tokens) for the curated corpus.

    STRICTLY oracle-checked end-to-end: the DuckDB twin mirrors the
    gate and fp-dedup textually, re-derives the near-dup pairs as
    global all-pairs exact Jaccard (matched at ANY scale because the
    pair stage runs in deterministic-recall mode — prefix-filter rows
    unioned into the band stack, ``operators/dedup._prefix_stack`` —
    so no fixture-regime recall assumption remains), and
    canonicalizes clusters with a RECURSIVE-CTE
    transitive closure whose min-reachable-id representative is
    provably the min-label fixpoint the Spark CC loop converges to.
    This gives the iterative CC operator its first strict external
    row (``dedup_cluster_pick`` is rows-only by itself).

    Scale shape: stages 1-2 are one compact-key shuffle over gated
    rows; stage 3 is the banded bucket self-join (never all-pairs,
    hot buckets capped) + a cluster-diameter-bounded loop over the
    PAIR relation only (orders of magnitude smaller than the corpus);
    the final anti-join is UNHINTED — the drop list (near-dup
    non-representatives) is corpus-order on a real web corpus (30%+
    near-dup rates at CommonCrawl scale), so broadcast must be AQE's
    runtime call from observed size, never forced (round-6 verdict:
    a forced broadcast here is a driver OOM at 100 TB)."""
    docs1 = _gated_fp_deduped(spark, sf_dir)
    clusters = _curation_labels(spark, sf_dir)
    drop = (clusters.filter(F.col("canonical_id") != F.col("doc_id"))
            .select("doc_id"))
    return (
        docs1.join(drop, "doc_id", "left_anti")
        # no output sort: the harness hash is order-insensitive, and an
        # output-sized global sort is pure cost (round-10 advisory)
        .select("doc_id", "lang", "lang_pred", "quality", "n_tokens")
    )


def _curation_best_rep_oracle() -> str:
    q = T.sql_quality_score("text")
    lp = T.sql_lang_pred("string_split(text, ' ')")
    fp = T.sql_fingerprint("text")
    sh = T.sql_shingles("string_split(text, ' ')", 3)
    return f"""
        WITH RECURSIVE gated AS (
            SELECT doc_id, text, lang,
                   {lp} AS lang_pred,
                   {q} AS quality,
                   len(string_split(text, ' ')) AS n_tokens,
                   {fp} AS fp
            FROM documents
            WHERE {q} >= 0.5 AND lang IN ('en', 'de', 'fr')
        ),
        keep_fp AS (
            SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
        ),
        docs1 AS (
            SELECT g.* FROM gated g JOIN keep_fp k
              ON g.fp = k.fp AND g.doc_id = k.doc_id
        ),
        sh AS (SELECT doc_id, {sh} AS s FROM docs1),
        pairs AS (
            SELECT a.doc_id AS pa, b.doc_id AS pb
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE {_CURATION_JACC} >= 0.6
        ),
        edges AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION
            SELECT pb AS src, pa AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        clus AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
            FROM reach GROUP BY src
        ),
        reps AS (
            SELECT c.cluster_id, c.doc_id,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.quality DESC, c.doc_id ASC) AS rn
            FROM clus c JOIN docs1 d ON d.doc_id = c.doc_id
        )
        SELECT d.doc_id, d.lang, d.lang_pred, d.quality, d.n_tokens
        FROM docs1 d
        WHERE d.doc_id IN (SELECT doc_id FROM reps WHERE rn = 1)
           OR d.doc_id NOT IN (SELECT doc_id FROM clus)
        ORDER BY doc_id
    """


@query(
    "curation_best_rep",
    oracle=_curation_best_rep_oracle(),
    tags=("E9", "E10", "E12", "EXT"),
)
def curation_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curation_stack`` with the production representative policy:
    per near-dup cluster, keep the BEST document — argmax by
    (quality desc, doc_id asc) — instead of the min id
    (``operators/dedup.pick_cluster_representatives``); on the
    gate fixtures the two genuinely differ (a cluster whose
    highest-quality member is not its smallest id exists at sf0.001
    up — pinned in ``tests/test_parity`` via the registry sweep and
    asserted directly in ``tests/test_dedup.py``). Stages 1-3 and the
    scale shape are ``curation_stack``'s verbatim; the re-pick adds
    one ``max_by`` hash aggregate over the cluster-member relation
    (pairs-scale) and a label join — no extra corpus shuffle, and the
    final anti-join stays UNHINTED for the same AQE/OOM reason.

    STRICT end-to-end: the DuckDB twin reuses the curation closure
    CTE, derives each node's cluster as its min reachable id, and
    swaps the MIN(id) representative for the same
    (quality DESC, doc_id ASC) argmax via row_number."""
    docs1 = _gated_fp_deduped(spark, sf_dir)
    clusters = D.pick_cluster_representatives(
        _curation_labels(spark, sf_dir),
        docs1.select("doc_id", "quality"))
    drop = (clusters.filter(F.col("canonical_id") != F.col("doc_id"))
            .select("doc_id"))
    return (
        docs1.join(drop, "doc_id", "left_anti")
        # no output sort: the harness hash is order-insensitive, and an
        # output-sized global sort is pure cost (round-10 advisory)
        .select("doc_id", "lang", "lang_pred", "quality", "n_tokens")
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-index) near-dedup — the production ingest shape
# ---------------------------------------------------------------------------

def _incremental_oracle() -> str:
    sh = T.sql_shingles("string_split(text, ' ')", 3)
    return f"""
        WITH sh AS (SELECT doc_id, {sh} AS s FROM documents),
             newb AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
             pairs AS (
                 SELECT a.doc_id AS doc_new, b.doc_id AS doc_other,
                        {_CURATION_JACC} AS jaccard_sim
                 FROM newb a JOIN sh b
                   ON b.doc_id % 2 = 0 OR b.doc_id < a.doc_id
             )
        SELECT doc_new, doc_other, jaccard_sim
        FROM pairs WHERE jaccard_sim >= 0.6
        ORDER BY doc_new, doc_other
    """


@query(
    "dedup_incremental_batch",
    oracle=_incremental_oracle(),
    tags=("E10", "EXT"),
    bench=True,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a NEW ingest batch (odd doc_ids) is
    deduplicated against the already-indexed corpus (even doc_ids)
    plus the batch's own earlier rows (accept-in-id-order), via an
    ASYMMETRIC band-bucket probe of the LSH index — the daily-crawl
    production shape, where ingest cost is proportional to the batch
    and never to the historical corpus
    (``operators/dedup.incremental_near_dup_pairs``).

    STRICT oracle: the DuckDB twin computes exact all-pairs Jaccard
    between the batch and its allowed comparison set.  The probe runs
    in ``exact_recall=True`` mode — both sides carry deterministic
    prefix-filter rows (``operators/dedup._prefix_stack``), so the
    asymmetric join provably surfaces every true batch-vs-allowed
    pair at ANY scale, and candidates are exact-verified; the pair
    sets hash-match with no fixture-regime assumption (round 11: the
    former "no recall loss on the fixture" grounds were retired when
    the sf1 subset sweep caught borderline pairs the banding alone
    missed)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return (
        D.incremental_near_dup_pairs(batch, corpus, threshold=0.6,
                                     exact_recall=True)
        .orderBy("doc_new", "doc_other")
    )


def _persisted_oracle() -> str:
    sh = T.sql_shingles("string_split(text, ' ')", 3)
    return f"""
        WITH sh AS (SELECT doc_id, {sh} AS s FROM documents),
             pairs AS (
                 SELECT a.doc_id AS doc_new, b.doc_id AS doc_other,
                        {_CURATION_JACC} AS jaccard_sim
                 FROM sh a JOIN sh b
                   ON a.doc_id % 2 = 1
                  AND ((a.doc_id % 4 = 1
                        AND (b.doc_id % 2 = 0
                             OR (b.doc_id % 4 = 1 AND b.doc_id < a.doc_id)))
                    OR (a.doc_id % 4 = 3
                        AND (b.doc_id % 2 = 0 OR b.doc_id % 4 = 1
                             OR (b.doc_id % 4 = 3 AND b.doc_id < a.doc_id))))
             )
        SELECT doc_new, doc_other, jaccard_sim
        FROM pairs WHERE jaccard_sim >= 0.6
        ORDER BY doc_new, doc_other
    """


@query(
    "dedup_incremental_persisted",
    oracle=_persisted_oracle(),
    tags=("E10", "EXT"),
    bench=True,
)
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO ingest cycles through the PERSISTED LSH index — the full
    production loop the inline ``dedup_incremental_batch`` only
    simulates: materialize the corpus band index as parquet
    ``partitionBy("band")``, probe ingest batch 1 against the read-back
    index, APPEND batch 1's band rows (acceptance), then probe ingest
    batch 2 against the GROWN index. corpus = even doc_ids, batch 1 =
    ids ≡ 1 (mod 4), batch 2 = ids ≡ 3 (mod 4); output is the union of
    both cycles' verified near-dup pairs.

    The index writes run at plan-build (the Lloyd-training precedent:
    index maintenance is the offline half of ingest); the returned
    plan reads ONLY the parquet index — the historical corpus is never
    re-banded, and each probe's cost is proportional to its batch
    (``operators/dedup.incremental_near_dup_pairs`` restricts the
    index to probed (band, bucket) keys before anything corpus-shaped
    runs). ``tests/test_dedup.py::
    test_incremental_dedup_probes_materialized_index`` additionally
    pins the band-partition pruning of a single-band probe.

    STRICT oracle: exact all-pairs Jaccard over each batch's allowed
    comparison set (corpus ∪ earlier-accepted batches ∪ own earlier
    rows). Same deterministic-recall grounds as
    ``dedup_incremental_batch``: the index is built AND probed with
    ``exact_recall=True``, so every persisted batch carries its
    prefix-filter rows (their hash order is corpus-growth-stable —
    appending never re-prefixes history) and the guarantee survives
    the grown-index cycle.

    Executing the returned frame runs exactly the PROBE half — the two
    band-partition-pruned parquet index reads plus batch-proportional
    candidate verification; index build/append is the offline
    maintenance half and runs at plan build, so a timing of the
    query's action measures the batch-proportional ingest cost."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    b1 = d.filter(F.col("doc_id") % 4 == 1)
    b2 = d.filter(F.col("doc_id") % 4 == 3)

    # Per-BUILD unique index dir: a path keyed only by sf_dir is a
    # shared mutable resource — a rebuild's mode("overwrite") deletes
    # part-files that an earlier, not-yet-executed plan's file listing
    # still references, and two concurrent builders interleave the
    # overwrite→append sequence (double-appended bands → inflated
    # buckets → silently dropped pairs at the skew cap)
    # (tests/test_dedup.py::test_persisted_index_concurrent_builders).
    # The production loop instead owns ONE stable index location with
    # atomic-rename swaps — per-build isolation is the correct shape
    # for a fixture query that many harnesses build at will.
    path = scratch_dir("sg_lsh_index", sf_dir)
    D.lsh_band_index(corpus, exact_recall=True).write.mode("overwrite") \
        .partitionBy("band").parquet(path)
    p1 = D.incremental_near_dup_pairs(
        b1, corpus, threshold=0.6, index=spark.read.parquet(path),
        exact_recall=True)
    D.lsh_band_index(b1, exact_recall=True).write.mode("append") \
        .partitionBy("band").parquet(path)
    p2 = D.incremental_near_dup_pairs(
        b2, corpus.unionByName(b1), threshold=0.6,
        index=spark.read.parquet(path), exact_recall=True)
    return p1.unionByName(p2).orderBy("doc_new", "doc_other")


def _curation_pairs_oracle() -> str:
    q = T.sql_quality_score("text")
    fp = T.sql_fingerprint("text")
    sh = T.sql_shingles("string_split(text, ' ')", 3)
    return f"""
        WITH gated AS (
            SELECT doc_id, text, {fp} AS fp
            FROM documents
            WHERE {q} >= 0.5 AND lang IN ('en', 'de', 'fr')
        ),
        keep_fp AS (
            SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
        ),
        docs1 AS (
            SELECT g.doc_id, g.text FROM gated g JOIN keep_fp k
              ON g.fp = k.fp AND g.doc_id = k.doc_id
        ),
        sh AS (SELECT doc_id, {sh} AS s FROM docs1)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {_CURATION_JACC} AS jaccard_sim
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE {_CURATION_JACC} >= 0.6
        ORDER BY doc_a, doc_b
    """


@query(
    "curation_pairs",
    oracle=_curation_pairs_oracle(),
    tags=("E9", "E10", "EXT"),
    bench=True,
)
def curation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY half of the curation pipeline — gate → exact fp dedup →
    MinHash-LSH banding → exact-Jaccard pair verification — split out
    of ``curation_stack`` so the tier's dominant cost is measurable
    from the query's own action (the full stack's connected-components
    loop runs eagerly at plan build, before that action). Everything
    here is one lazy plan: row-local gating, the compact fp-key
    shuffle, the banded bucket self-join with the hot-bucket cap, and
    candidates-only shingle verification — the stages that scale with
    the corpus. The CC canonicalization that follows in the full stack
    runs over THIS output (the pair relation, orders of magnitude
    smaller).

    STRICT oracle: all-pairs exact Jaccard over the gated fp-survivors,
    matched at any scale via deterministic-recall mode (prefix-filter
    closure — ``dedup_minhash_audit`` has the full story)."""
    docs1 = _gated_fp_deduped(spark, sf_dir)
    return (
        D.minhash_near_dup_pairs(docs1.select("doc_id", "text"),
                                 threshold=0.6, exact_recall=True)
        .orderBy("doc_a", "doc_b")
    )
