"""Product quantization for billion-scale vector search.

PQ (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 33(1)) splits each d-dim vector into
``m`` subvectors, vector-quantizes every subspace against its own
``k``-entry codebook, and stores only the ``m`` code bytes — a
d·4-byte float row becomes ``m`` bytes (32× at d=64, m=8), which is
what makes a 100 TB embedding corpus fit the memory/IO budget of a
nearest-neighbor scan.

Every search here is one pipeline; the codebook is a *DataFrame*
``(sub, code, cvec)`` of m·k rows, never a corpus-sized artifact:

1. **train** — per-subspace Lloyd (``train_codebooks_lloyd``, the
   grouped ``similarity._lloyd`` with one group per subspace), or the
   lossless "identity" codebook of distinct subvectors
   (``train_codebooks_exact``) used by the strict audits:
   reconstruction is then bit-exact, so the whole pipeline provably
   equals brute force.
2. **encode** — slice row-locally, broadcast-join the codebook per
   subspace, ``min_by`` the nearest centroid, one ``groupBy(id)``
   shuffle to reassemble the code array (``pq_encode``).
3. **candidate source** — the only step that differs between the
   searches: the full corpus (``pq_topk``, ``pq_topk_adc``), the
   probed lists of an in-memory inverted file (``ivfpq_topk``) or of a
   persisted one read with partition pruning (``search_ivfpq_index``
   over ``write_ivfpq_index``), or a matryoshka prefix shortlist
   (``retrieval_stack``). The inverted file is built by one
   ``_inverted_file`` and probed by one ``_probe_scores``. Its coarse
   quantizer is the Lloyd E-step's: the n lowest-id vectors
   (``similarity._seeds``), collected once, and each row's nearest
   list — or a query's ``nprobe`` nearest — by the row-local
   literal-centroid kernel ``similarity._nearest``: no cross join, no
   window, nothing shuffled. The persisted index stores that centroid
   list as its side table and probes against it the same way.
4. **score** — reconstruct row-locally from the broadcast codebook and
   take the sequential-fold cosine against the full-precision query,
   bit-compatible with DuckDB ``list_dot_product`` so the audit twins
   hash-match. ``pq_topk_adc`` is the one separate scorer: a numpy
   lookup-table kernel over the code batches.
5. **top-k** — the shared per-query cut ``similarity._topk``.
6. **refine** — optionally shortlist k·refine and re-rank against the
   original vectors (``similarity.refine_topk``).

At 100 TB: the codebook is m·k rows (broadcast, KBs); encode shuffles
corpus×m rows of (id, sub, code) — 1/32nd the byte volume of the raw
vectors; search scans the *codes* relation and reconstructs inside the
stage, so the scan cost is the compressed size. Raising m or k changes
only the broadcast and the literal sizes, never the shuffle key-space
shape.

Parity note: reference repo has no vector ops (SURVEY.md §2a
"explicitly absent"); this is EXT row E11 (BASELINE.json north star:
similarity search for LLM data pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators.similarity import (
    ID_COL,
    VEC_COL,
    _lloyd,
    _nearest,
    _seeds,
    _topk,
    as_double,
    cosine,
    cosine_topk,
    refine_topk,
    squared_l2,
)


def subvector(vec: Column, *, sub: Column | int, m: int, dim: int) -> Column:
    """Slice subspace ``sub`` (0-based) out of a ``dim``-dim vector."""
    d = dim // m
    s = F.lit(sub) if isinstance(sub, int) else sub
    return F.slice(vec, s * d + 1, d)


def explode_subvectors(df: DataFrame, *, m: int = 8,
                       dim: int = 64) -> DataFrame:
    """Long-form ``(_id, sub, _v)`` relation of subvectors: row-local
    slice + posexplode — corpus×m compact rows, no shuffle."""
    v = as_double(VEC_COL)
    return df.select(
        F.col(ID_COL).alias("_id"),
        F.posexplode(F.array(*[
            subvector(v, sub=s, m=m, dim=dim) for s in range(m)
        ])).alias("sub", "_v"),
    )


def train_codebooks_exact(df: DataFrame, *, m: int = 8,
                          dim: int = 64) -> DataFrame:
    """Lossless "identity" codebook: one centroid per DISTINCT
    subvector per subspace, codes assigned by lexicographic rank of
    the subvector (deterministic in both engines — Spark array
    ordering and DuckDB list ordering are both elementwise).

    This is the audit configuration: encode→reconstruct round-trips
    bit-exactly, pinning the production encode/reconstruct/score
    machinery to a brute-force SQL oracle. (It is also the correct
    codebook when a subspace's value set is genuinely small — e.g.
    int8-quantized or one-hot-ish dimensions.)"""
    from data_eng_taxi_ibis_dagster_spark.operators.order import (
        grouped_rank,
    )
    longf = explode_subvectors(df, m=m, dim=dim)
    distinct = longf.select("sub", F.col("_v").alias("cvec")).distinct()
    # Per-sub lexicographic rank WITHOUT a per-sub window over the
    # whole distinct relation (for continuous floats that is
    # corpus-sized): grouped_rank range-buckets each subspace by the
    # subvector's FIRST element and ranks within (sub, bucket), with
    # the full array as the tiebreak — ordering by (cvec[0], cvec) ≡
    # ordering by cvec, so codes are identical to the naive window.
    # The codebook relation can still be corpus-sized for continuous
    # floats (this remains the audit/small-value-set configuration —
    # production is train_codebooks_lloyd's m·k output), but no single
    # task sees more than ≈ |distinct|/(m·buckets) rows.
    ranked = grouped_rank(
        distinct, ["sub"], F.element_at("cvec", 1).cast("double"),
        F.col("cvec"), name="_code1")
    return ranked.select(
        "sub", (F.col("_code1") - 1).cast("int").alias("code"), "cvec")


def train_codebooks_lloyd(df: DataFrame, *, m: int = 8, dim: int = 64,
                          k: int = 16, iters: int = 3) -> DataFrame:
    """Per-subspace Lloyd, all m subspaces in ONE DataFrame loop: the
    grouped ``similarity._lloyd`` with the subspace as the group, over
    the long-form subvectors materialized once. Returns the final
    centroids as the ``(sub, code, cvec)`` codebook; a corpus with
    fewer than k ids yields fewer codes per subspace."""
    longf = explode_subvectors(df, m=m, dim=dim).localCheckpoint(eager=True)
    books = _lloyd(longf, k, iters, groups=m, group="sub")
    return df.sparkSession.createDataFrame(
        [(s, j, c) for s, b in enumerate(books) for j, c in enumerate(b)],
        "sub int, code int, cvec array<double>")


def pq_encode(df: DataFrame, codebook: DataFrame, *, m: int = 8,
              dim: int = 64) -> DataFrame:
    """Corpus → ``(_id, codes array<int>)``: slice row-locally,
    broadcast-join the codebook within each subspace, keep the nearest
    centroid per (row, sub) via ``min_by``, reassemble with one
    ``groupBy(_id)``. Shuffle volume: corpus×m rows of three ints."""
    longf = explode_subvectors(df, m=m, dim=dim)
    scored = longf.join(F.broadcast(codebook), "sub").select(
        "_id", "sub", "code",
        squared_l2(F.col("_v"), F.col("cvec")).alias("_dist"),
    )
    per_sub = scored.groupBy("_id", "sub").agg(
        # nearest centroid; deterministic tie-break toward lowest code
        F.min_by(F.col("code"), F.struct(F.col("_dist"), F.col("code")))
        .alias("code"))
    return (
        per_sub.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code")))
             .alias("_sc"))
        .select("_id", F.transform("_sc", lambda x: x["code"]).alias("codes"))
    )


def pq_reconstruct(codes: DataFrame, codebook: DataFrame) -> DataFrame:
    """``(_id, codes)`` → ``(_id, recon array<double>)``: explode the
    code array, broadcast-join the codebook on (sub, code), reassemble
    subspace slices in order. One groupBy(_id) shuffle of code-sized
    rows; the float payload re-enters only from the broadcast side."""
    longf = codes.select(
        "_id", F.posexplode("codes").alias("sub", "code"))
    joined = longf.join(F.broadcast(codebook), ["sub", "code"])
    return (
        joined.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "cvec")))
             .alias("_sv"))
        .select("_id",
                F.flatten(F.transform("_sv", lambda x: x["cvec"]))
                .alias("recon"))
    )


def _score_recon(cands: DataFrame, codes: DataFrame, codebook: DataFrame,
                 score: str = "cosine_sim") -> DataFrame:
    """The score step: candidate pairs ``(query_id, qv, match_id)``
    against the reconstruction of each match's ``(_id, codes)``, by
    the sequential-fold cosine."""
    recon = pq_reconstruct(codes, codebook).withColumnRenamed("_id", "match_id")
    return cands.join(recon, "match_id").select(
        "query_id", "match_id",
        cosine(F.col("qv"), F.col("recon")).alias(score))


def pq_topk(queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
            k: int = 10, *, m: int = 8, dim: int = 64,
            refine: int = 1) -> DataFrame:
    """PQ search over the full corpus: encode, reconstruct row-locally,
    and run the brute-force :func:`cosine_topk` with the
    reconstructions as the corpus; ``refine > 1`` shortlists
    ``k·refine`` by that quantized score and re-ranks the shortlist
    against the original vectors (:func:`refine_topk`) — the
    compressed scan winnows, the exact pass fixes the ordering, and
    recall rises steeply with ``refine``. Emits (query_id, match_id,
    cosine_sim, rnk).

    With a Lloyd codebook this is classic approximate PQ search (the
    scan reads 1/32nd the bytes); with the exact codebook the
    reconstruction is lossless and the result provably equals brute
    force — the audit configuration."""
    recon = pq_reconstruct(pq_encode(corpus, codebook, m=m, dim=dim), codebook)
    short = cosine_topk(
        queries, recon.select(F.col("_id").alias(ID_COL),
                              F.col("recon").alias(VEC_COL)), k * refine)
    return refine_topk(short, queries, corpus, k, refine)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted lists over PQ codes (FAISS IVFPQ shape)
# ---------------------------------------------------------------------------

def coarse_centroids(corpus: DataFrame, *, n_centroids: int = 8) -> list:
    """Deterministic coarse quantizer, collected once: ``[(centroid_id,
    cent)]``, the ``similarity._seeds`` rule over the corpus vectors —
    the n lowest non-null ids, ``centroid_id`` being the seed's id (a
    real deployment trains k-means offline — ``lloyd_assignments`` —
    and inlines the result the same way)."""
    return _seeds(corpus.select(F.col(ID_COL).alias("_id"),
                                as_double(VEC_COL).alias("_v")),
                  n_centroids)[0]


def assign_lists(df: DataFrame, cents: list, idname: str, vecname: str,
                 topn: int) -> DataFrame:
    """Nearest-``topn`` coarse lists per row, ``(idname, vecname,
    centroid_id)`` with the row's vector as ``vecname``: the row-local
    ``similarity._nearest`` kernel by cosine against the literal
    centroids ``cents`` (ties to the lower centroid id) — no join, no
    window, nothing shuffled."""
    ids = F.array(*[F.lit(i) for i, _ in cents])
    near = _nearest(
        df.select(F.col(ID_COL).alias(idname), as_double(VEC_COL).alias(vecname)),
        vecname, [[c for _, c in cents]], lambda v, c: -cosine(v, c), topn)
    return near.select(idname, vecname, F.explode(
        F.transform("_near", lambda x: ids[x["c"]])).alias("centroid_id"))


def _inverted_file(corpus: DataFrame, codebook: DataFrame, cents: list,
                   m: int, dim: int) -> DataFrame:
    """The inverted file ``(match_id, centroid_id, codes)``: every
    corpus vector in its one nearest coarse list, with its PQ codes."""
    lists = assign_lists(corpus, cents, "match_id", "_v", 1) \
        .select("match_id", "centroid_id")
    codes = pq_encode(corpus, codebook, m=m, dim=dim) \
        .withColumnRenamed("_id", "match_id")
    return lists.join(codes, "match_id")


def _probe_scores(probes: DataFrame, inv: DataFrame,
                  codebook: DataFrame) -> DataFrame:
    """The IVF probe scorer: probes ``(query_id, qv, centroid_id)`` ⋈
    inverted-file rows on ``centroid_id`` — a plain equi-join, so a
    list is touched only when probed — minus the self match, scored
    against the reconstructions. Each corpus vector lives in exactly
    one list, so no candidate dedup is needed."""
    cands = (probes.join(inv.select("match_id", "centroid_id"), "centroid_id")
             .filter(F.col("query_id") != F.col("match_id")))
    return _score_recon(
        cands, inv.select(F.col("match_id").alias("_id"), "codes"), codebook)


def ivfpq_topk(queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
               *, n_centroids: int = 8, nprobe: int = 2, k: int = 10,
               m: int = 8, dim: int = 64, refine: int = 1) -> DataFrame:
    """IVF-PQ search — the two-axis scale play a 100 TB corpus needs
    BOTH of: the coarse inverted file prunes which fraction of the
    corpus is read (nprobe/n_centroids of the lists), and PQ prunes
    how many bytes each read row costs (m code bytes vs d·4 floats).
    The candidate source is the in-memory inverted file's probed
    lists; scoring, top-k and ``refine`` are as in :func:`pq_topk`.

    Audit configuration: ``nprobe = n_centroids`` + the identity
    codebook makes the candidate set the full corpus and the
    reconstruction lossless ⇒ the result is PROVABLY brute force, and
    a brute-force SQL oracle hash-pins the whole pipeline (coarse
    assignment, probe join, encode/decode, re-rank).

    Emits (query_id, match_id, cosine_sim, rnk)."""
    cents = coarse_centroids(corpus, n_centroids=n_centroids)
    inv = _inverted_file(corpus, codebook, cents, m, dim)
    probes = assign_lists(queries, cents, "query_id", "qv", nprobe)
    # IVF pruning applies to the DECODE stage too: restrict the
    # inverted file to probed lists (bounded ≤ n_centroids-row
    # broadcast semi-join) BEFORE reconstructing, so unprobed rows
    # never pay the decode joins — not just the scoring join
    inv_probed = inv.join(
        F.broadcast(probes.select("centroid_id").distinct()),
        "centroid_id", "left_semi")
    return refine_topk(_topk(_probe_scores(probes, inv_probed, codebook),
                             k * refine), queries, corpus, k, refine)


def write_ivfpq_index(corpus: DataFrame, codebook: DataFrame, path: str,
                      *, n_centroids: int = 8, m: int = 8,
                      dim: int = 64) -> None:
    """Materialize the inverted file as ``partitionBy(centroid_id)``
    parquet — the storage layout that makes IVF real on a cluster:
    a probe reads ONLY its lists' partitions (Spark partition pruning;
    asserted in tests via ``PartitionFilters``), so search I/O is
    nprobe/n_centroids of the code bytes, which are themselves 32×
    smaller than the raw vectors. The codebook and the coarse
    centroids, collected once for the lists, persist as small side
    tables under the same root."""
    cents = coarse_centroids(corpus, n_centroids=n_centroids)
    (_inverted_file(corpus, codebook, cents, m, dim)
     .write.mode("overwrite").partitionBy("centroid_id")
     .parquet(f"{path}/lists"))
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    corpus.sparkSession.createDataFrame(cents, corpus.select(
        F.col(ID_COL).alias("centroid_id"), as_double(VEC_COL).alias("cent")
    ).schema).write.mode("overwrite").parquet(f"{path}/centroids")


def search_ivfpq_index(spark: SparkSession, path: str, queries: DataFrame,
                       *, nprobe: int = 2, k: int = 10) -> DataFrame:
    """Search a materialized IVF-PQ index. The probes are assigned
    against the persisted centroids (a collect of n_centroids rows),
    and the probed list ids are resolved first (bounded collect:
    |queries|·nprobe ints) and pushed into the scan as a
    ``centroid_id IN (...)`` partition filter, so unprobed partitions
    are never listed, opened, or read."""
    cents = sorted(tuple(r) for r in
                   spark.read.parquet(f"{path}/centroids").collect())
    probes = assign_lists(queries, cents, "query_id", "qv", nprobe)
    probe_ids = [r["centroid_id"] for r in
                 probes.select("centroid_id").distinct().collect()]
    inv = (spark.read.parquet(f"{path}/lists")
           .filter(F.col("centroid_id").isin(probe_ids)))
    return _topk(_probe_scores(probes, inv,
                               spark.read.parquet(f"{path}/codebook")), k)


# ---------------------------------------------------------------------------
# ADC kernel: lookup-table scoring over the raw code matrix (numpy)
# ---------------------------------------------------------------------------

def pq_topk_adc(queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
                k: int = 10, *, m: int = 8, dim: int = 64,
                refine: int = 1) -> DataFrame:
    """Asymmetric-distance PQ search with the classic lookup-table
    kernel (Jégou et al. 2011 §IV-A): per query, an m×k table of
    partial dot products (and one of centroid squared norms) is
    precomputed once, and scoring a corpus row is m table gathers + a
    sum — no per-row arithmetic on vectors at all. The Arrow batch
    form: ``mapInPandas`` over the CODES relation, numpy fancy-indexed
    gathers over the whole batch (LUT[sub, C] for the n×m code matrix
    C), so the inner loop is a handful of BLAS-free vectorized ops per
    batch, not per row.

    Scale shape: the only distributed input is the (id, codes)
    relation — m bytes/row; the LUTs are |Q|·m·k doubles built from
    two bounded collects (codebook m·k rows, probe set |Q| rows —
    the same bounded-probe contract as every brute-force scorer
    here). Each partition emits its local top-(k·refine) per query
    (n_partitions·|Q|·k·refine rows), and one small window finishes
    the global cut; with ``refine`` the exact re-rank restores
    full-precision cosines for the survivors.

    Versus :func:`pq_topk`'s reconstruct-and-fold plan: identical
    candidate semantics, but the scan never materializes a
    reconstructed vector column and never joins — the kernel is the
    throughput path for corpus-scale scans. ADC partial sums use
    numpy's (deterministic) pairwise summation, so results are
    reproducible but not bit-identical to the sequential fold — this
    backend is for rows-only/bench paths; the strict audits pin the
    fold-based twin."""
    import numpy as np
    import pandas as pd

    d = dim // m
    book_rows = codebook.collect()
    kk = 1 + max(r["code"] for r in book_rows)
    cent = np.zeros((m, kk, d), dtype=np.float64)
    for r in book_rows:
        cent[r["sub"], r["code"]] = r["cvec"]
    cent_norm2 = (cent * cent).sum(axis=2)          # m×k
    q_rows = (queries.select(F.col(ID_COL).alias("qid"),
                             as_double(VEC_COL).alias("qv")).collect())
    qids = np.array([r["qid"] for r in q_rows])
    Q = np.stack([np.asarray(r["qv"]) for r in q_rows])      # |Q|×dim
    qnorm = np.sqrt((Q * Q).sum(axis=1))                     # |Q|
    # LUT[qi, sub, code] = <q_sub, centroid(sub, code)>
    lut = np.einsum("qsd,skd->qsk", Q.reshape(len(qids), m, d), cent)

    codes = pq_encode(corpus, codebook, m=m, dim=dim)
    shortn = k * refine
    subs = np.arange(m)

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())            # n×m
            ids = pdf["_id"].to_numpy()
            norm2 = cent_norm2[subs[None, :], C].sum(axis=1)  # n
            denom = np.sqrt(norm2)
            out_q, out_m, out_s = [], [], []
            for qi in range(len(qids)):
                dots = lut[qi][subs[None, :], C].sum(axis=1)  # n
                # zero-norm guard, same contract as similarity.cosine:
                # a zero query or zero reconstruction scores 0.0 (never
                # NaN, which would shortlist nondeterministically)
                d_all = qnorm[qi] * denom
                sim = np.divide(dots, d_all,
                                out=np.zeros_like(dots), where=d_all != 0)
                mask = ids != qids[qi]
                sim_m, ids_m = sim[mask], ids[mask]
                take = min(shortn, len(ids_m))
                if take == 0:
                    continue
                # exact (sim DESC, id ASC) selection, partial-sort
                # cost: partition to the k-th sim value, keep EVERY
                # row tied with it, then lexsort only that subset —
                # argpartition alone would break boundary ties
                # arbitrarily and diverge from the declared ordering
                if take < len(sim_m):
                    kth = np.partition(-sim_m, take - 1)[take - 1]
                    cand = np.nonzero(-sim_m <= kth)[0]
                else:
                    cand = np.arange(len(sim_m))
                order = cand[np.lexsort((ids_m[cand], -sim_m[cand]))][:take]
                out_q.extend([int(qids[qi])] * take)
                out_m.extend(ids_m[order].tolist())
                out_s.extend(sim_m[order].tolist())
            yield pd.DataFrame({
                "query_id": pd.array(out_q, dtype="int64"),
                "match_id": pd.array(out_m, dtype="int64"),
                "cosine_sim": pd.array(out_s, dtype="float64"),
            })

    local = codes.mapInPandas(
        _score, schema="query_id long, match_id long, cosine_sim double")
    return refine_topk(_topk(local, shortn), queries, corpus, k, refine)


# ---------------------------------------------------------------------------
# Three-stage retrieval stack (matryoshka shortlist → PQ re-rank → MaxSim)
# ---------------------------------------------------------------------------

def retrieval_stack(queries: DataFrame, corpus: DataFrame,
                    codebook: DataFrame, *, m: int = 8, dim: int = 64,
                    shortlist: int = 50, pq_keep: int = 15, k: int = 5,
                    facets: int = 4) -> DataFrame:
    """The realistic serving pipeline, composed end-to-end: each stage
    reads less data per candidate than the one before it winnowed.

    1. **Matryoshka shortlist** — brute-force cosine on the first
       ``dim/4`` dims (quarter-width scan; with prefix-pruned storage,
       quarter the scan I/O) keeps ``shortlist`` candidates per query.
    2. **PQ re-rank** — the shortlist's candidate ids semi-join the
       corpus (broadcast — ≤ |Q|·shortlist ids), ONLY those rows are
       encoded/reconstructed against the codebook, and the quantized
       cosine keeps ``pq_keep`` per query. With a Lloyd codebook this
       is the production approximate pass; with the identity codebook
       (``train_codebooks_exact``) reconstruction is lossless and the
       stage provably equals a full-precision re-rank — the audit
       configuration, same trick as ``similarity_pq_audit``.
    3. **MaxSim final** — the survivors are scored with the
       late-interaction rule over ``facets`` sliced token-vectors of
       the ORIGINAL full-precision embeddings (fixed-order CASE-pivot
       sum, so no nondeterministic float reduction), and the declared
       window emits the final top-``k``.

    Scale shape: stage 1 is the only corpus-wide scan and it reads
    prefix bytes; stages 2-3 touch ≤ |Q|·shortlist rows, reached via
    broadcast semi-joins on candidate ids — the corpus full-width
    vectors are read only for those rows. No corpus-wide shuffle
    anywhere; every window partitions by query_id with ≤ shortlist
    rows per group.

    Emits (query_id, match_id, maxsim, rnk); ordering is
    (maxsim DESC, match_id ASC) per query."""
    prefix = dim // 4
    fw = dim // facets
    q = F.broadcast(queries.select(F.col(ID_COL).alias("query_id"),
                                   as_double(VEC_COL).alias("qv")))
    c = corpus.select(F.col(ID_COL).alias("match_id"),
                      as_double(VEC_COL).alias("cv"))

    # stage 1: quarter-width shortlist — the shared brute-force top-k
    # operator on prefix-sliced vectors (sliced before cosine_topk's
    # double cast, which is exact per element); tests/test_pq.py
    # asserts the stack's shortlist equals exactly this call.
    short = cosine_topk(
        queries.select(ID_COL, F.slice(VEC_COL, 1, prefix).alias(VEC_COL)),
        corpus.select(ID_COL, F.slice(VEC_COL, 1, prefix).alias(VEC_COL)),
        k=shortlist,
    ).select("query_id", "match_id")

    # stage 2: PQ re-rank of the candidate union only
    cand = short.select(F.col("match_id").alias(ID_COL)).distinct()
    sub = corpus.join(F.broadcast(cand), ID_COL, "left_semi")
    scored_pq = _score_recon(short.join(q, "query_id"),
                             pq_encode(sub, codebook, m=m, dim=dim),
                             codebook, "sim_pq")
    keep = _topk(scored_pq, pq_keep, "sim_pq").select("query_id", "match_id")

    # stage 3: MaxSim late interaction over the survivors. `keep`
    # appears ONCE (broadcast against the corpus relation — the join
    # restricts c to the ≤ |Q|·pq_keep survivor rows before the facet
    # explode); a separate distinct/semi-join branch would re-execute
    # stages 1-2 a second time for the same restriction.
    qs = q.select(
        "query_id",
        F.posexplode(F.array(*[F.slice("qv", s * fw + 1, fw)
                               for s in range(facets)])).alias("qsub", "qsv"))
    cs = (
        F.broadcast(keep).join(c, "match_id")
        .select("query_id", "match_id",
                F.explode(F.array(*[F.slice("cv", s * fw + 1, fw)
                                    for s in range(facets)])).alias("csv"))
    )
    # ONE aggregate: per-facet conditional maxes (MAX is exact and
    # order-independent, so folding the per-(q,m,qsub) max and the
    # facet pivot into a single groupBy is bit-identical to the
    # two-aggregate form) summed in fixed facet order — one exchange
    # on (query_id, match_id) instead of two chained ones.
    sim = cosine(F.col("qsv"), F.col("csv"))
    facet = [F.max(F.when(F.col("qsub") == s, sim)).alias(f"_f{s}")
             for s in range(facets)]
    maxsim = F.col("_f0")
    for s in range(1, facets):
        maxsim = maxsim + F.col(f"_f{s}")
    scored = (
        cs.join(F.broadcast(qs), "query_id")
        .groupBy("query_id", "match_id")
        .agg(*facet)
        .select("query_id", "match_id", maxsim.alias("maxsim"))
    )
    return _topk(scored, k, "maxsim").orderBy("query_id", "rnk")
