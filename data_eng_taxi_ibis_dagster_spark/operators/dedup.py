"""Deduplication operators (EXT E9/E10): exact, near-duplicate n-gram
Jaccard, SimHash and banded hamming.

Exact dedup groups on a 128-bit content fingerprint, never on the full
text, so its shuffle carries 16 bytes and a key per document.

Near-duplicate detection is ONE candidates → verify pipeline::

    shingles → {MinHash band rows, prefix rows} → capped bucket join → verify

* **shingles** — :func:`_shingled`: ``(id, sh)``, each document's
  distinct n-gram set, built once per row.
* **stack rows** ``(id, band, bucket[, pos, sz])``, all per-row codegen:
  MinHash band rows (k seeded minima, :func:`_minima`, one hash per
  band, :func:`_band_hashes`) make recall probabilistic — the LSH
  S-curve; Jaccard-prefix rows under ``band = PREFIX_BAND`` (the
  hash-ordered :func:`_prefix`, or the df-ordered
  :func:`_prefix_stack_df_order` for a fixed corpus) make it exact —
  the prefix-filter theorem, :func:`_prefix_stack`.
  :func:`lsh_band_index` picks band rows alone or both families
  (``exact_recall``) and is also the persistable index.
* **capped bucket join** — rows sharing a ``(band, bucket)`` pair up.
  Band buckets above ``max_bucket`` members are dropped
  (:func:`_cap_hot_buckets`); prefix rows are never dropped and pass
  PPJoin's length/position filters instead (:func:`_pp_filters`).
  :func:`_bucket_pairs` is the self-join; the incremental probe
  (:func:`incremental_near_dup_pairs`) joins a new batch against an
  index.
* **verify** — :func:`_verify`: exact Jaccard per distinct candidate
  pair; candidates only propose.

Winnowing fingerprints (:func:`winnow_candidate_pairs`) are the
candidate source of the exact pair verifiers :func:`jaccard_verify`
and :func:`levenshtein_verify`.

Several plans below reference one subtree twice (a stack, a shingle
relation) and let both copies run concurrently inside the one action.
Materializing such a subtree once does not pay here: under AQE a
``localCheckpoint``, even ``eager=False``, runs its jobs at plan build,
serially, outside the action (measured slower on every consumer, e.g.
``dedup_ngram_jaccard`` 1.4 → 2.4 s at sf0.1).

Spark's xxhash64 is the workhorse hash (seedable, 64-bit, JVM-side);
it has no DuckDB twin, so MinHash/SimHash plans whose recall is
probabilistic register as rows-only.  The Jaccard verifier itself is
engine-neutral and oracle-checked via ``dedup_ngram_jaccard``.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_eng_taxi_ibis_dagster_spark.operators.text import (
    fingerprint,
    shingles,
    tokens,
)

def _right_size(df: DataFrame) -> DataFrame:
    """Right-size the scan for CPU-bound per-row work: if the input is
    backed by fewer files than the cluster has slots (small files, tiny
    SF), fan out to ``defaultParallelism`` so codegen'd per-document
    hashing uses every core. At 100 TB input splits vastly outnumber
    slots, the condition is false, and this is a no-op — the corpus is
    never shuffled just to parallelize. Deliberately avoids
    ``df.rdd.getNumPartitions()``: touching ``.rdd`` forces a full plan
    translation per call and blocks Connect-API portability; the file
    count is available from plan metadata for free. Non-scan inputs
    (``inputFiles() == []``, e.g. in-memory test frames) already
    parallelize to the session default and pass through untouched."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# E9 — exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id — deterministic, unlike
    dropDuplicates) per identical normalized text. Returns
    (fp, keep_<id>, n_copies)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Shingles and Jaccard verification (shared by every near-dup path)
# ---------------------------------------------------------------------------

def _shingled(df: DataFrame, *, id_col: str, text_col: str,
              n: int) -> DataFrame:
    """``(id, sh)`` — each document's distinct n-gram shingle set, the
    one input of every stack and verifier.  Consumers that read ``sh``
    several times (k minima, a prefix, a size) select from this
    relation rather than inlining the expression: Catalyst keeps
    a multiply-referenced expensive alias in its own projection, so
    tokenize+shingle runs once per row."""
    return _right_size(df).select(
        F.col(id_col), shingles(tokens(text_col), n).alias("sh"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two *distinct-element* arrays. Integer sizes →
    one double division: bit-identical across engines."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union.cast("double")


def _verify(cands: DataFrame, a: DataFrame, b: DataFrame, *,
            threshold: float, gather: bool = False) -> DataFrame:
    """Exact Jaccard of each candidate pair ``(ka, kb)`` — the
    relation's two columns, distinct pairs.  ``a`` and ``b`` are the
    ``(id, sh)`` relations (:func:`_shingled`) of the ``ka`` and ``kb``
    members: one relation for both in a self-join; the batch and its
    candidate-pruned corpus in the incremental probe.  Emits
    ``(ka, kb, jaccard_sim ≥ threshold)``.

    Two shapes; callers choose from what they know of candidate
    volume:

    ``gather`` (self-join only; ``b`` is ``a``) — explode each pair
    into its two member ids, join the shingle relation ONCE, and gather
    the two arrays back onto the pair with a ``(ka, kb)``-keyed
    aggregate.  Each group holds exactly two member rows (pairs are
    distinct, a document's shingle row is unique), so the NULL-skipping
    MAX is a deterministic pick.  One corpus shingling instead of two,
    plus a gather exchange of 2·|cands| arrays: right when candidates
    are S-curve-bounded (plain LSH banding; sf0.1
    ``dedup_minhash_lsh`` 1.53 → 1.31 s).

    two joins (default) — each side joins its shingle relation.  Right
    when candidates dwarf the corpus, as under the prefix closure
    (|cands| ≳ |corpus| at any scale): 2·|cands| arrays through a
    gather exchange then cost more than two corpus passes (sf0.1
    ``curation_pairs`` 2.29 → 6.86 s and ``dedup_allpairs_prefix``
    4.39 → 8.00 s under gather).  The candidates are first spread by
    an AQE-exempt repartition on ``xxhash64(ka, kb)``: they are
    byte-small but CPU-heavy per row, so AQE's byte-based coalescing
    would funnel the verify through one task.  The key is one derived
    expression because a plain ``(ka, kb)`` repartition is removed as
    redundant against the upstream distinct's exchange, and a single
    ``ka`` key funnels a hot document's whole candidate fan-out through
    one task.  The gather shape needs no spread: its aggregate input
    carries real array bytes, which AQE sizes correctly."""
    ka, kb = cands.columns
    if gather:
        sh = a.toDF("_vid", "sh")
        pairs = (
            cands.select(ka, kb, F.explode(F.array(ka, kb)).alias("_vid"))
            .join(sh, "_vid")
            .groupBy(ka, kb)
            .agg(F.max(F.when(F.col("_vid") == F.col(ka), F.col("sh")))
                 .alias("sh_a"),
                 F.max(F.when(F.col("_vid") == F.col(kb), F.col("sh")))
                 .alias("sh_b"))
        )
    else:
        n_part = int(cands.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        pairs = (cands.repartition(n_part, F.xxhash64(ka, kb))
                 .join(a.toDF(ka, "sh_a"), ka)
                 .join(b.toDF(kb, "sh_b"), kb))
    return (
        pairs.select(ka, kb,
                     jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def pairwise_jaccard(df: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text", block_col: str | None = None,
                     n: int = 3, threshold: float = 0.5) -> DataFrame:
    """All-pairs n-gram Jaccard within blocks (E10's exact baseline and
    the brute-force reference the near-dup tests compare against).

    ``block_col`` bounds the quadratic blow-up (same-source blocking);
    without it every pair is compared.  Emits (doc_a, doc_b,
    jaccard_sim) with doc_a < doc_b."""
    sh = df.select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        shingles(tokens(text_col), n).alias("sh"),
    )
    left = sh.select(
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    right = sh.select(
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    on = [left.doc_a < right.doc_b]
    if block_col:
        on.insert(0, left["_blk"] == right["_blk"])
    pairs = left.join(right, reduce(lambda x, y: x & y, on))
    sim = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.select("doc_a", "doc_b", sim.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Winnowing-fingerprint blocking — the bounded-by-construction block key
# for the EXACT pair verifiers (a metadata key such as `source` grows its
# blocks linearly with the corpus, so its pair output grows
# quadratically)
# ---------------------------------------------------------------------------

#: Hot-fingerprint document-frequency cap: fingerprints shared by more
#: than this many documents are dropped from candidate generation (the
#: same degenerate-key policy as the LSH ``max_bucket`` cap — such
#: grams are boilerplate, and their members are exact-dup/containment
#: territory).  This makes the candidate join's output bounded BY
#: CONSTRUCTION: ≤ max_df·(max_df−1)/2 pairs per fingerprint, with
#: fingerprint cardinality ∝ corpus tokens — the pair relation grows
#: LINEARLY with the corpus, never quadratically.
WINNOW_MAX_DF = 64


def winnow_fingerprints(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """``(id, f)`` — the document's DISTINCT winnowing fingerprints
    (Schleimer/Wilkerson/Aiken, the MOSS scheme): md5 every k-token
    gram, slide a w-window over the gram-hash sequence, keep each
    window's minimum.  Guarantees any shared token run of
    ≥ w+k−1 tokens contributes at least one SHARED fingerprint — the
    recall contract near-dup blocking relies on.  Engine-portable
    (md5 over space-joined token slices; lexicographic hex order), so
    oracles can reproduce the selection literally — unlike the
    xxhash64 LSH bands.  Same selection as
    ``plans/llm13.fingerprint_winnowing`` (k=8, w=4 defaults).

    Scale shape: gram hashes explode to (doc, pos, hash) rows ONCE and
    the window minimum is a real per-doc sliding frame — each hash is
    computed exactly once (the array-formulation inlined the md5
    transform into every window slice: O(m²) hashing; see llm13's
    docstring).  Documents shorter than k tokens emit no fingerprints
    (nothing to gram)."""
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda x: x != F.lit(""))
    n = F.size(toks)
    # Gram hashes travel as 16-byte BINARY (``unhex`` of the md5 hex)
    # from birth: the (doc, pos, gh) relation is THE dominant exchange
    # of every winnowing consumer (it carries one row per gram
    # position, pre-selection) and binary halves its hash bytes vs the
    # 32-char hex string.  The window MINIMUM selection is unchanged by
    # the encoding: both engines' md5 hex is lowercase fixed-width, so
    # lexicographic hex order IS unsigned bytewise order of the decoded
    # bytes (hex digit order is monotone per nibble), and Spark
    # compares BinaryType bytewise-unsigned —
    # ``min(unhex(h)) == unhex(min(h))`` exactly; the engine-portable
    # DuckDB oracles keep the hex rendering and the selected SETS
    # coincide (pinned by the winnowing parity queries at both gate
    # SFs).
    gram_structs = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.unhex(F.md5(F.array_join(F.slice(toks, i, k), " ")))
                .alias("gh"))),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:binary>>"))
    g = (_right_size(df)
         .select(F.col(id_col), F.explode(gram_structs).alias("e"))
         .select(id_col, "e.pos", "e.gh"))
    frame = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(Window.currentRow, w - 1))
    whole = Window.partitionBy(id_col)
    sliding = g.select(
        id_col, "pos",
        F.min("gh").over(frame).alias("wmin"),
        F.max("pos").over(whole).alias("mx"))
    # Selected fingerprints stay 16-byte BINARY downstream too — the
    # distinct here, the df-cap window, the blocking self-join and the
    # cross-doc share counts all use ``f`` for EQUALITY only, so the
    # narrower key halves every one of those exchanges as well.
    return (sliding
            .filter(F.col("pos")
                    <= F.greatest(F.col("mx") - (w - 1), F.lit(1)))
            .select(id_col, F.col("wmin").alias("f"))
            .distinct())


def winnow_candidate_pairs(fps: DataFrame, *, id_col: str = "doc_id",
                           max_df: int = WINNOW_MAX_DF) -> DataFrame:
    """DISTINCT ``(doc_a, doc_b)`` candidate pairs sharing at least one
    winnowing fingerprint whose document frequency is ≤ ``max_df``.

    The fingerprint is a high-cardinality content hash, so — unlike a
    metadata block key — per-key pair output is capped at
    max_df·(max_df−1)/2 by the df filter and the join needs NO salt:
    AQE's input-byte coalescing is safe when every key's output is
    bounded and keys are hash-spread (fix the key, not the task
    placement).

    Internally the fingerprint is renamed to the operator-owned
    ``_wf`` before the sizing window, so the plan lint's bound is keyed
    to a name only this operator mints — a caller's own window
    partitioned by a column that happens to be called ``f`` stays
    flagged (the ``_qs_``-namespace precedent)."""
    sized = (fps.select(F.col("f").alias("_wf"), F.col(id_col))
             .withColumn(
                 "_df", F.count(F.lit(1)).over(Window.partitionBy("_wf")))
             .filter(F.col("_df") <= max_df).drop("_df"))
    a = sized.select("_wf", F.col(id_col).alias("doc_a"))
    b = sized.select("_wf", F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "_wf")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(cands: DataFrame, docs: DataFrame, *,
                   id_col: str = "doc_id", text_col: str = "text",
                   n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over an explicit distinct ``(doc_a, doc_b)``
    candidate relation — the verification half of every blocked
    near-dup pipeline, factored so candidate GENERATION (winnowing /
    LSH / fingerprint index) and verification compose freely.  The
    two-join shape of :func:`_verify`, with ``docs`` shingled for both
    sides.

    The candidate relation is referenced exactly ONCE (deliberately no
    candidates-derived semi-join pre-thin of the text side: each extra
    reference to ``cands`` re-executes the whole generation subtree —
    a 3× winnowing cost measured at sf0.1 — while shingling is
    row-local map work the scan pipeline absorbs).  Emits
    ``(doc_a, doc_b, jaccard_sim ≥ threshold)``."""
    sh = _shingled(docs, id_col=id_col, text_col=text_col, n=n)
    return _verify(cands, sh, sh, threshold=threshold)


def levenshtein_verify(cands: DataFrame, docs: DataFrame, *,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_dist: int = 10) -> DataFrame:
    """Exact Levenshtein over an explicit candidate-pair relation, with
    the free length lower bound (|len(a)−len(b)| ≤ lev(a,b)) pruning
    BEFORE the distance, and the distance itself computed in the
    THRESHOLD-BANDED form — ``levenshtein(a, b, k)`` runs the banded
    DP (O(len·k) cells with early exit, -1 past the threshold) instead
    of the full O(len²) matrix, a ~len/(2k+1) work cut per pair (the
    verification kernel dominates this operator at scale: ~300-char
    docs at k=10 → ~14× fewer cells).  Runs in codegen on the JVM —
    no Python in the pair loop.  Like :func:`jaccard_verify`,
    ``cands`` is referenced exactly once and the text side joins raw
    (a pre-thin would re-execute candidate generation per reference
    for zero savings — the text side has NO per-row prep here).
    Emits ``(doc_a, doc_b, edit_dist ≤ max_dist)``."""
    t = docs.select(F.col(id_col), F.col(text_col).alias("_t"),
                    F.length(text_col).alias("_n"))
    a = t.select(F.col(id_col).alias("doc_a"),
                 F.col("_t").alias("ta"), F.col("_n").alias("na"))
    b = t.select(F.col(id_col).alias("doc_b"),
                 F.col("_t").alias("tb"), F.col("_n").alias("nb"))
    return (
        cands.join(a, "doc_a").join(b, "doc_b")
        .filter(F.abs(F.col("na") - F.col("nb")) <= max_dist)
        .select("doc_a", "doc_b",
                F.levenshtein("ta", "tb", max_dist).cast("long")
                .alias("edit_dist"))
        # banded DP returns -1 past the threshold: one predicate keeps
        # exactly the ≤ max_dist band (and documents the sentinel)
        .filter((F.col("edit_dist") >= 0)
                & (F.col("edit_dist") <= max_dist))
    )


# ---------------------------------------------------------------------------
# E10 — stack rows: MinHash bands and Jaccard prefixes
# ---------------------------------------------------------------------------

def _minima(num_hashes: int) -> list[Column]:
    """The k seeded-xxhash64 minima of ``sh`` — a document's MinHash
    signature, per row inside codegen
    (``array_min(transform(sh, xxhash64))`` per seed).  A signature is
    a pure function of one document, so it needs NO explode, NO
    aggregation and NO shuffle (the explode → k×min-agg shape shuffles
    the entire shingle relation, ~30× the corpus at n=3)."""
    def seeded(s: int):
        # single-parameter lambda: F.transform dispatches a
        # TWO-parameter callable as (element, index), so a default-arg
        # seed capture would silently bind the index as the seed
        return lambda x: F.xxhash64(F.lit(s), x)

    return [F.array_min(F.transform(F.col("sh"), seeded(s)))
            for s in range(num_hashes)]


def _band_hashes(minima: list[Column], bands: int,
                 rows: int) -> list[Column]:
    """One xxhash64 per LSH band over its ``rows`` consecutive minima —
    THE banding expression of every band stack, so a persisted index
    and a later probe can never band differently (the incremental
    pipeline's recall depends on identical banding)."""
    return [F.xxhash64(F.lit(b), *minima[b * rows:(b + 1) * rows])
            for b in range(bands)]


def minhash_signatures(df: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 32) -> DataFrame:
    """``(id, sig array<long>)`` — the :func:`_minima` of each
    document's shingle set.

    The compact relation goes through one id-keyed exchange: it makes
    the signature sub-plan common to both sides of the downstream LSH
    self-join (ReuseExchange computes it once), and the shuffle
    carries id + k longs per doc — tiny next to the corpus."""
    return (
        _shingled(df, id_col=id_col, text_col=text_col, n=n)
        .select(F.col(id_col), F.array(*_minima(num_hashes)).alias("sig"))
        .repartition(F.col(id_col))
    )


def _band_stack(sigs: DataFrame, *, id_col: str, bands: int,
                rows: int) -> DataFrame:
    """``(id, band, bucket)`` from MinHash signatures — the band-only
    stack (:func:`lsh_band_index` with ``exact_recall=False``)."""
    hashes = _band_hashes([F.col("sig")[i] for i in range(bands * rows)],
                          bands, rows)
    banded = sigs.select(F.col(id_col),
                         *[h.alias(f"b{b}") for b, h in enumerate(hashes)])
    return banded.select(
        F.col(id_col),
        F.stack(
            F.lit(bands),
            *[c for b in range(bands) for c in (F.lit(b), F.col(f"b{b}"))],
        ).alias("band", "bucket"),
    )


#: Sentinel band id for PREFIX-FILTER rows in the shared
#: ``(id, band, bucket)`` relation: real LSH bands are 0..bands-1, so
#: -1 marks a row whose bucket is the xxhash64 of one token from the
#: document's Jaccard prefix.  Prefix rows ride the exact same
#: machinery as band rows — the bucket self-join, the probe semi-join,
#: the ``partitionBy("band")`` parquet layout (they land in their own
#: partition, pruned like any band) — but are EXEMPT from the
#: hot-bucket skew cap, because they carry the recall guarantee.
PREFIX_BAND = -1


def _prefix_len(size: Column, threshold: float) -> Column:
    """Prefix length ``p = floor((1-t)·|A|) + 1`` of a shingle set of
    ``size`` elements.  ``(1-t)·|A|`` is nudged by +1e-9 before
    ``floor`` so binary rounding can only LENGTHEN the prefix (at
    t = 0.8, |A| = 5 the product is 0.9999999999999998, not 1; a
    shorter prefix breaks the theorem)."""
    return (F.floor(size * F.lit(1.0 - threshold) + F.lit(1e-9))
            + F.lit(1)).cast("int")


def _prefix(threshold: float) -> Column:
    """The Jaccard prefix of ``sh`` under the global order
    ``(xxhash64(token), token)``: ``array<struct<h, t>>``, its first
    :func:`_prefix_len` elements.  The order is computable per row
    (``array_sort`` of a struct array), needs NO document-frequency
    pre-pass, and is STABLE as the corpus grows, which a persisted
    index requires."""
    ordered = F.array_sort(F.transform(
        F.col("sh"),
        lambda x: F.struct(F.xxhash64(x).alias("h"), x.alias("t"))))
    return F.slice(ordered, F.lit(1), _prefix_len(F.size("sh"), threshold))


def _prefix_stack(df: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.6) -> DataFrame:
    """``(id, band=PREFIX_BAND, bucket, pos, sz)`` — one row per token
    of the document's hash-ordered Jaccard prefix (:func:`_prefix`),
    the deterministic recall closure for the LSH candidate join.
    :func:`_fused_band_prefix_stack` emits the same rows next to the
    band rows from one projection.

    Prefix-filter theorem (Bayardo/Ma/Srikant, *Scaling Up All Pairs
    Similarity Search*, WWW'07; Xiao et al., *PPJoin*, WWW'08): order
    every document's shingle SET by one global total order and keep
    each document's first ``p = floor((1-t)·|A|) + 1`` shingles; then
    any pair with ``J(A,B) ≥ t`` shares at least one kept shingle.
    (Proof: ``J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ ⌈t·|A|⌉``.  Let c be the
    order-smallest common element; if ``c ∉ prefix(A)`` then all
    ``p_A = |A| - ⌈t·|A|⌉ + 1`` prefix elements are smaller than c and
    hence non-common, leaving ``|A∩B| ≤ ⌈t·|A|⌉ - 1`` — contradiction;
    symmetrically for B, so c sits in BOTH prefixes.)  Joining on
    prefix-token buckets therefore yields a candidate superset of ALL
    true pairs — LSH recall stops being probabilistic the moment these
    rows join the band stack.

    Hash order rather than the df-ascending AllPairs classic
    (:func:`_prefix_stack_df_order`) because a df order changes as the
    corpus grows and would silently invalidate a persisted index's
    prefixes.  Its cost is that a globally common shingle can land in
    prefixes and form a hot bucket; prefix rows are exempt from
    ``max_bucket`` (correctness), so at extreme scale the mitigation
    is the threshold itself (prefixes shrink as t rises) and AQE skew
    splitting on the verify join.

    Prefix rows carry ``(pos, sz)`` — the token's 1-based position in
    the document's ordered shingle set and the set size — so the
    candidate join can apply PPJoin's LENGTH filter
    (``t·|A| ≤ |B| ≤ |A|/t``) and POSITION filter: the order-smallest
    COMMON element c of a true pair is in both prefixes (the theorem's
    proof), no common element precedes it, hence ``|A∩B| ≤ 1 +
    min(|A|-pos_A(c), |B|-pos_B(c))``, which must reach the required
    overlap ``t·(|A|+|B|)/(1+t)``.  A pair is kept if ANY shared
    bucket occurrence passes — later shared tokens may under-bound and
    fail, but c's occurrence always passes for a true pair, so the
    filter is exact.  On the templated sf1 fixture these filters are
    what keep the verify join's array payload affordable: medium-df
    shingles shared by UNRELATED docs form most of the raw candidate
    volume, and almost none of them survive the position test.
    """
    pref = _shingled(df, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), F.size("sh").alias("sz"),
        F.posexplode(_prefix(threshold)).alias("_i", "_pt"))
    return pref.select(
        F.col(id_col), F.lit(PREFIX_BAND).alias("band"),
        F.col("_pt.h").alias("bucket"),
        (F.col("_i") + 1).alias("pos"), F.col("sz"))


def _fused_band_prefix_stack(df: DataFrame, *, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3,
                             num_hashes: int = 32, bands: int = 8,
                             rows: int = 4,
                             threshold: float = 0.6) -> DataFrame:
    """ONE-SCAN ``(id, band, bucket, pos, sz)`` relation: the LSH band
    rows (``pos = sz = 0``) AND the prefix-filter rows of
    :func:`_prefix_stack` from a single shingle projection — the
    exact-recall stack.

    Every per-document quantity here (the k minima, the band hashes,
    the prefix slice) is a pure function of the shingle set, so one
    projection chain emits both row families as a single struct array
    and one ``explode``: scan → shingles → (minima, prefix) → explode.
    Against ``_band_stack(minhash_signatures(df)) ∪ _prefix_stack(df)``
    this saves a corpus scan, a tokenize+shingle evaluation, the
    signature's id exchange and a union; the only shuffle left in an
    exact-recall index build is the ``(band, bucket)`` exchange the
    bucket join needs anyway.  Row-set equality with that composition
    is pinned by ``tests/test_dedup.py``."""
    staged = _shingled(df, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), F.size("sh").alias("_sz"),
        _prefix(threshold).alias("_pref"),
        *[m.alias(f"_m{i}") for i, m in enumerate(_minima(num_hashes))])
    hashes = _band_hashes([F.col(f"_m{i}") for i in range(num_hashes)],
                          bands, rows)
    band_structs = [
        F.struct(F.lit(b).alias("band"), h.alias("bucket"),
                 F.lit(0).alias("pos"), F.lit(0).alias("sz"))
        for b, h in enumerate(hashes)
    ]
    pref_structs = F.transform(
        F.col("_pref"),
        lambda x, i: F.struct(
            F.lit(PREFIX_BAND).alias("band"), x["h"].alias("bucket"),
            (i + F.lit(1)).alias("pos"), F.col("_sz").alias("sz")))
    return (
        staged
        .select(F.col(id_col),
                F.explode(F.concat(F.array(*band_structs), pref_structs))
                .alias("_r"))
        .select(F.col(id_col), "_r.band", "_r.bucket", "_r.pos", "_r.sz")
    )


def _prefix_stack_df_order(df: DataFrame, *, id_col: str,
                           text_col: str, n: int,
                           threshold: float) -> DataFrame:
    """:func:`_prefix_stack` under the AllPairs-classic DF-ASCENDING
    global order (rarest shingle first, ties by shingle hash): each
    document's prefix then holds its rarest shingles, which are the
    least likely to be shared by UNRELATED documents — the
    candidate-volume-minimizing order from Bayardo WWW'07.  Costs one
    document-frequency aggregate over the exploded shingle relation,
    and the order CHANGES as the corpus grows, so this variant is only
    sound for SELF-JOINS over a fixed corpus.

    The shingle travels as its 8-byte xxhash64 — which IS the bucket
    value — so the df aggregate and its join-back shuffle longs, and
    the order is ``(df(h), h)``.  The theorem needs only SOME total
    order shared by every document, which that is; a hash collision
    merges two shingles' df counts and buckets, so candidates can only
    gain pairs, which verification discards.  The exploded relation's
    two consumers (the df aggregate, the df join-back) prune
    differently, so tokenize+shingle+explode evaluates twice,
    concurrently (see the module docstring on materializing once)."""
    tok = (_shingled(df, id_col=id_col, text_col=text_col, n=n)
           .select(F.col(id_col), F.size("sh").alias("sz"),
                   F.explode("sh").alias("_t"))
           .select(F.col(id_col), "sz", F.xxhash64("_t").alias("_h")))
    dfc = tok.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    pos = F.row_number().over(
        Window.partitionBy(id_col).orderBy("_df", "_h"))
    return (
        tok.join(dfc, "_h")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= _prefix_len(F.col("sz"), threshold))
        .select(F.col(id_col), F.lit(PREFIX_BAND).alias("band"),
                F.col("_h").alias("bucket"), "pos", "sz")
    )


def lsh_band_index(df: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 3,
                   num_hashes: int = 32, bands: int = 8,
                   rows: int = 4, exact_recall: bool = False,
                   threshold: float = 0.6) -> DataFrame:
    """The near-dup stack, and the PERSISTABLE LSH index relation:
    ``(id, band, bucket)`` — one row per (document, band), ``bucket``
    the band's hash.  :func:`minhash_near_dup_pairs` self-joins it; an
    ingest pipeline materializes it (``partitionBy("band")`` parquet:
    a probe of band b prunes to 1/bands of the index files), appends
    each accepted batch, and hands it to
    :func:`incremental_near_dup_pairs` via ``index=`` so repeated
    ingests never re-band the historical corpus.  The band-only build
    costs one compact (id, k-longs) exchange
    (:func:`minhash_signatures`) and nothing corpus-shaped.

    ``exact_recall=True`` builds the fused stack instead
    (:func:`_fused_band_prefix_stack`): the band rows plus the
    document's prefix-filter rows under ``band = PREFIX_BAND``, with
    ``(pos, sz)`` columns.  The prefix order is corpus-growth-stable,
    so rows indexed today remain valid prefixes forever — append-only
    ingest never re-prefixes history; ``threshold`` must be ≤ every
    probe's threshold (lower = longer prefixes = safe).  Its explicit
    ``(band, bucket)`` exchange is the reuse point: the incremental
    probe references this relation from the touched semi-join, the
    skew-cap window and the probe join, and without it each reference
    re-computes the shingle+prefix subtree."""
    if exact_recall:
        return _fused_band_prefix_stack(
            df, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands, rows=rows,
            threshold=threshold) \
            .repartition(F.col("band"), F.col("bucket"))
    sigs = minhash_signatures(df, id_col=id_col, text_col=text_col,
                              n=n, num_hashes=num_hashes)
    return _band_stack(sigs, id_col=id_col, bands=bands, rows=rows)


# ---------------------------------------------------------------------------
# E10 — candidate pairs and end-to-end near-dup
# ---------------------------------------------------------------------------

def _with_pos_sz(stacked: DataFrame) -> DataFrame:
    """Give a band-only stack the ``pos = sz = 0`` sentinel columns of
    the fused stack, so every bucket join reads one schema."""
    return stacked.withColumns({c: F.lit(0) for c in ("pos", "sz")
                                if c not in stacked.columns})


def _cap_hot_buckets(stacked: DataFrame, max_bucket: int) -> DataFrame:
    """Drop every ``(band, bucket)`` group with more than ``max_bucket``
    members — except ``PREFIX_BAND`` rows, which carry the exact-recall
    guarantee.  Big band buckets are near-certain duplicates of a
    degenerate key (exact-dedup territory) and exactly the skew that
    would blow the self-join up quadratically.

    The explicit ``(band, bucket)`` exchange BELOW the sizing window
    makes the distribution real.  Both the window and the bucket join
    reuse it.  Without it, a union input whose children both claim
    ``hash(band, bucket)`` partitioning (a shuffled semi-join output
    next to a repartitioned stack) propagates the claim while holding
    the concatenation of both children's partitions; the window then
    elides its exchange and the join zips mismatched partition counts
    ("Can't zip RDDs: List(48, 96)", stats-dependent, seen at sf1)."""
    return (
        stacked.repartition(F.col("band"), F.col("bucket"))
        .withColumn("_bn",
                    F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")))
        .filter((F.col("_bn") <= max_bucket)
                | (F.col("band") == PREFIX_BAND))
        .drop("_bn")
    )


def _pp_filters(threshold: float, prefix_only: bool = False) -> Column:
    """PPJoin candidate filters over a joined pair carrying
    ``(_sza, _posa)`` × ``(_szb, _posb)`` — exact (they only remove
    pairs the position/length bounds PROVE are below threshold; see
    :func:`_prefix_stack`).  All comparisons stay in the safe
    direction under float noise (the 1e-9 slack keeps borderline
    pairs).  Rows of a real band pass untested unless ``prefix_only``
    declares that the pair has no ``band`` column (every row is a
    prefix row)."""
    t = threshold
    length_ok = ((F.col("_sza") * t <= F.col("_szb") + 1e-9)
                 & (F.col("_szb") * t <= F.col("_sza") + 1e-9))
    ubound = 1 + F.least(F.col("_sza") - F.col("_posa"),
                         F.col("_szb") - F.col("_posb"))
    need = (F.col("_sza") + F.col("_szb")) * F.lit(t / (1.0 + t))
    ok = length_ok & (ubound >= need - 1e-9)
    return ok if prefix_only else (F.col("band") != PREFIX_BAND) | ok


def _side(stacked: DataFrame, keys: list[str], id_col: str, name: str,
          sfx: str, *extra: str) -> DataFrame:
    """One side of a bucket join: the join keys, the id as ``name``,
    and ``(pos, sz)`` as ``(_pos<sfx>, _sz<sfx>)`` for
    :func:`_pp_filters`."""
    return stacked.select(*keys, F.col(id_col).alias(name),
                          F.col("pos").alias(f"_pos{sfx}"),
                          F.col("sz").alias(f"_sz{sfx}"), *extra)


def _bucket_pairs(stacked: DataFrame, *, id_col: str,
                  max_bucket: int,
                  threshold: float = 0.6,
                  prefix_only: bool = False) -> DataFrame:
    """Self-join a ``(id, band, bucket[, pos, sz])`` stack into
    distinct ``(doc_a, doc_b)`` candidate pairs, hot band buckets
    capped (:func:`_cap_hot_buckets`), prefix-row pairs through the
    PPJoin filters (:func:`_pp_filters`).

    Both join sides read the SAME shuffle files (ReuseExchange) instead
    of re-computing the shingle→signature→prefix subtree per side;
    a broadcast side (fixture-scale stats tempt the planner) would
    re-compute it, and at 100 TB the stack is corpus×(bands+prefix)
    rows, so the ``shuffle_hash`` hint is the scale-correct strategy.

    ``prefix_only=True`` declares that EVERY row is a prefix row
    (``band`` is the PREFIX_BAND literal — the standalone AllPairs
    path).  The generic plan would give the same pairs (the cap is
    vacuous, a join on a constant column is a join on ``bucket``) but
    not the same cost: Catalyst folds the constant ``band`` out of the
    join keys while an explicit ``(band, bucket)`` repartition keeps it
    as ``hashpartitioning(-1, bucket)``, which does not satisfy the
    join's ``ClusteredDistribution(bucket)``, so the prefix relation
    would be exchanged a SECOND time per side.  Declaring it builds the
    bucket-keyed plan directly: one exchange, shared by both sides."""
    stacked = _with_pos_sz(stacked)
    if prefix_only:
        keys = ["bucket"]
        sized = stacked.repartition(F.col("bucket"))
    else:
        keys = ["band", "bucket"]
        sized = _cap_hot_buckets(stacked, max_bucket)
    a = _side(sized, keys, id_col, "doc_a", "a")
    b = _side(sized, keys, id_col, "doc_b", "b")
    return (
        a.join(b.hint("shuffle_hash"), keys)
        .filter((F.col("doc_a") < F.col("doc_b"))
                & _pp_filters(threshold, prefix_only))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_dup_pairs(df: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 32, bands: int = 8, rows: int = 4,
                           threshold: float = 0.6,
                           exact_recall: bool = False) -> DataFrame:
    """End-to-end MinHash near-dedup: :func:`lsh_band_index` →
    :func:`_bucket_pairs` → exact Jaccard :func:`_verify`.  Emits
    (doc_a, doc_b, jaccard_sim ≥ threshold).

    b=8, r=4 puts the LSH S-curve threshold at (1/8)^(1/4) ≈ 0.59 —
    candidates below it are mostly filtered before verification.

    Recall contract: the default is the production LSH path, whose
    recall is PROBABILISTIC — a true pair at exactly J = t is missed
    with probability ``(1 - t^rows)^bands`` (~33% at t = 0.6 with 8×4;
    <2% by J = 0.8), so borderline short-doc pairs (J = 0.67, 0.83
    on the sf1 fixture) can be missed.  ``exact_recall=True`` adds the
    deterministic prefix-filter rows (:func:`_prefix_stack`) to the
    band stack before the one bucket self-join, making the candidate
    set a PROVABLE superset of every J ≥ t pair — the mode the strict
    all-pairs-oracle queries run.

    The verify shape follows: plain LSH candidates are S-curve-bounded
    and take the gather shape; the prefix closure makes
    |cands| ≳ |corpus| and takes the two-join shape."""
    stacked = lsh_band_index(df, id_col=id_col, text_col=text_col, n=n,
                             num_hashes=num_hashes, bands=bands, rows=rows,
                             exact_recall=exact_recall, threshold=threshold)
    cands = _bucket_pairs(stacked, id_col=id_col, max_bucket=1000,
                          threshold=threshold)
    sh = _shingled(df, id_col=id_col, text_col=text_col, n=n)
    return _verify(cands, sh, sh, threshold=threshold,
                   gather=not exact_recall)


def allpairs_near_dup_pairs(df: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            threshold: float = 0.6) -> DataFrame:
    """The AllPairs/PPJoin exact similarity self-join STANDALONE — no
    MinHash, no LSH, no probabilistic stage anywhere: df-ordered
    prefix-filter candidates (:func:`_prefix_stack_df_order`, with the
    PPJoin length/position filters) straight into exact-Jaccard
    verification.  Output is PROVABLY the complete
    ``J ≥ threshold`` pair relation (the prefix theorem gives
    candidate completeness; verification gives precision), so the
    all-pairs SQL oracle is its exact twin at any scale with no recall
    argument needed.

    Use this when the corpus is modest or the threshold is high (the
    prefix shrinks as t rises); prefer :func:`minhash_near_dup_pairs`
    — probabilistic, or with ``exact_recall=True`` for the union — at
    the 100 TB end, where LSH's band buckets carry most true pairs far
    more cheaply and the prefix rows serve as the recall closure.
    Candidate volume is Σ_bucket C(df,2) over prefix-token buckets —
    never the corpus square."""
    stacked = _prefix_stack_df_order(df, id_col=id_col, text_col=text_col,
                                     n=n, threshold=threshold)
    cands = _bucket_pairs(stacked, id_col=id_col, max_bucket=1000,
                          threshold=threshold, prefix_only=True)
    sh = _shingled(df, id_col=id_col, text_col=text_col, n=n)
    return _verify(cands, sh, sh, threshold=threshold)


def incremental_near_dup_pairs(batch: DataFrame, corpus: DataFrame, *,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               num_hashes: int = 32, bands: int = 8,
                               rows: int = 4, threshold: float = 0.6,
                               max_bucket: int = 1000,
                               index: DataFrame | None = None,
                               exact_recall: bool = False) -> DataFrame:
    """Incremental (batch-vs-index) MinHash near-dedup — the PRODUCTION
    ingest shape: dedup a NEW batch of documents against an already-
    indexed corpus plus the batch's own earlier rows, without ever
    self-joining the historical corpus.

    Emits ``(doc_new, doc_other, jaccard_sim)`` where ``doc_new`` is a
    batch document and ``doc_other`` is either an indexed corpus
    document or an earlier batch document (``doc_other < doc_new`` —
    the accept-in-id-order semantic: each new doc is checked against
    everything accepted before it). Candidates come from an ASYMMETRIC
    band-bucket equi-join (batch bands probe the index bands), then
    exact-Jaccard verification, exactly like the self-join pipeline.

    Scale shape: at 100 TB the index side's ``(id, band, bucket)``
    relation is the persisted LSH index (append batches to it after
    acceptance); each ingest then costs O(|batch| · bands) probe rows
    joined against the bucket-partitioned index — proportional to the
    BATCH, never to the corpus. Hot index buckets above ``max_bucket``
    are dropped by the same cap as the self-join
    (:func:`_cap_hot_buckets`). Ids of ``batch`` and ``corpus`` must
    be disjoint.

    Pass ``index`` to probe a PRE-MATERIALIZED corpus band relation
    (the output of :func:`lsh_band_index`, e.g. read back from parquet
    ``partitionBy("band")``) instead of re-banding the corpus texts —
    the persisted-index production path; ``corpus`` is then used only
    for exact-verification texts.

    ``exact_recall=True`` is the deterministic-recall mode (see
    :func:`minhash_near_dup_pairs`): both sides carry prefix-filter
    rows under ``band = PREFIX_BAND`` (exempt from the skew cap), so
    the probe provably surfaces every J ≥ threshold batch-vs-allowed
    pair.  A pre-materialized ``index`` must itself have been built
    with ``exact_recall=True`` at a threshold ≤ this one.
    """
    sig_new = lsh_band_index(batch, id_col=id_col, text_col=text_col,
                             n=n, num_hashes=num_hashes, bands=bands,
                             rows=rows, exact_recall=exact_recall,
                             threshold=threshold)
    if index is None:
        index = lsh_band_index(corpus, id_col=id_col, text_col=text_col,
                               n=n, num_hashes=num_hashes, bands=bands,
                               rows=rows, exact_recall=exact_recall,
                               threshold=threshold)
    elif exact_recall:
        # Fail fast: a pre-materialized BAND-ONLY index (built with
        # exact_recall=False — no pos/sz columns) would otherwise be
        # silently normalized below and the probe would run with NO
        # corpus-side prefix rows, degrading the deterministic-recall
        # guarantee this flag promises back to probabilistic LSH
        # recall with no error.  The schema is the cheap plan-time
        # proxy for "built in exact-recall mode"; an index that HAS the
        # columns but was stripped of its PREFIX_BAND rows remains the
        # caller's contract to keep (checking row presence would force
        # an action per build).
        missing = [c for c in ("pos", "sz") if c not in index.columns]
        if missing:
            raise ValueError(
                "incremental_near_dup_pairs(exact_recall=True) was given "
                f"a pre-materialized index lacking {missing}: the index "
                "must be built with lsh_band_index(..., exact_recall="
                "True) so it carries the prefix-filter rows the "
                "deterministic-recall guarantee depends on")
    sig_new, index = _with_pos_sz(sig_new), _with_pos_sz(index)
    # Batch-proportionality: restrict the index to the (band, bucket)
    # keys the batch actually probes BEFORE anything corpus-shaped
    # runs. The semi-join keeps every member of a touched bucket (so
    # the skew-cap counts are complete for exactly the buckets that
    # matter) and drops the rest of the index unread — without it, the
    # sizing window re-shuffles the ENTIRE historical index on every
    # ingest.
    #
    # sig_new is referenced three times (the touched keys, the union
    # child, the probe side) and per-reference column pruning gives
    # each a different exchange subtree, so neither ReuseExchange nor
    # AQE stage reuse fires and the batch stack is evaluated three
    # times.  That cost is batch-proportional, and the copies run
    # concurrently; sharing one stage (probe = the windowed union
    # filtered to _new) serializes union → window → join and measured
    # slower at sf0.1 (batch 3.86 → 4.06 s, persisted 4.66 → 5.67 s).
    touched = index.join(sig_new.select("band", "bucket").distinct(),
                         ["band", "bucket"], "left_semi")
    sized = _cap_hot_buckets(
        touched.withColumn("_new", F.lit(False))
        .unionByName(sig_new.withColumn("_new", F.lit(True))),
        max_bucket)
    keys = ["band", "bucket"]
    probe = _side(sig_new, keys, id_col, "doc_new", "a")
    hit = _side(sized, keys, id_col, "doc_other", "b", "_new")
    cands = (
        probe.join(hit, keys)
        .filter(((~F.col("_new")) | (F.col("doc_other") < F.col("doc_new")))
                & _pp_filters(threshold))
        .select("doc_new", "doc_other")
        .distinct()
    )
    # Shingle only candidate texts: the corpus side is semi-joined to
    # the candidates' doc_other ids (pair-bounded) before the
    # tokenize+shingle projection, so verification never shingles the
    # historical corpus.  Two joins: sh_new is batch-proportional and
    # the other side candidates-only, which is already scale-right.
    others = corpus.unionByName(batch).join(
        cands.select(F.col("doc_other").alias(id_col)).distinct(),
        id_col, "left_semi")
    return _verify(
        cands,
        _shingled(batch, id_col=id_col, text_col=text_col, n=n),
        _shingled(others, id_col=id_col, text_col=text_col, n=n),
        threshold=threshold)


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame, *,
                   max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → canonical
    representative (the min id: cheap, deterministic) per cluster;
    :func:`pick_cluster_representatives` re-picks the best member
    instead.

    Min-label propagation: every node starts labeled with itself; each
    round, a node adopts the smallest label among itself and its
    neighbors; converged when no label changes. Iterations are bounded
    by the cluster *diameter* (near-dup clusters are shallow — a handful
    of rounds), and each round is one join + one aggregation — the
    standard large-graph CC shape (no driver-side graph, only a scalar
    convergence check crosses to the driver).

    Input: (doc_a, doc_b) pairs. Output: (doc_id, canonical_id).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        # materialize the loop-invariant edge relation ONCE: pairs
        # usually come from the full MinHash pipeline (corpus-scale
        # lineage), and every round below runs an action (its
        # checkpoint) — without truncation each round would
        # re-run signature generation + banding + verification
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
        )
        # localCheckpoint truncates the growing lineage — without it,
        # iteration i re-executes all i-1 predecessor joins; the
        # convergence count is observed on that same job
        obs = Observation()
        labels = updated.observe(obs, F.count_if("_changed").alias("n")) \
            .localCheckpoint(eager=True).drop("_changed")
        if obs.get["n"] == 0:
            break
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("canonical_id"))


def pick_cluster_representatives(labels: DataFrame, scored: DataFrame, *,
                                 rep_id_col: str = "doc_id",
                                 rep_score_col: str = "quality"
                                 ) -> DataFrame:
    """Re-canonicalize a (doc_id, canonical_id) cluster labeling (the
    output of :func:`dedup_clusters`) to the argmax-by-(score desc,
    id asc) member per cluster — the production curation policy, which
    keeps the BEST document per near-dup cluster.  A caller holding an
    already-converged labeling (the curation queries share one CC
    build per fixture dir) applies it without re-running the label
    loop.  One ``max_by`` hash aggregate over the cluster-member
    relation (pairs-scale, never the corpus; partial aggregation
    map-side) plus a join back on the cluster key — no window, no
    extra corpus shuffle.  ``scored`` is a (``rep_id_col``,
    ``rep_score_col``) relation; ids missing from it drop from the
    output (the caller supplies scores for every clustered id by
    contract)."""
    s = scored.select(F.col(rep_id_col).alias("doc_id"),
                      F.col(rep_score_col).alias("_score"))
    # argmax by (score desc, id asc): max_by over a struct orders
    # lexicographically, so negating the id makes ties pick the
    # smallest id deterministically.
    reps = (labels.join(s, "doc_id")
            .groupBy("canonical_id")
            .agg(F.expr("max_by(doc_id, struct(_score, -doc_id))")
                 .alias("_rep")))
    return (labels.join(reps, "canonical_id")
            .select("doc_id", F.col("_rep").alias("canonical_id")))


# ---------------------------------------------------------------------------
# E10 — SimHash and banded hamming
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, *, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per-bit majority vote over token
    hashes (multiset — duplicate tokens vote repeatedly), folded into
    one long. Like the MinHash signature, this is a pure per-document
    function, so it is computed row-local inside codegen — hash the
    token array once, then 64 bit-count comparisons — with NO explode
    and NO shuffle (the naive shape shuffles the whole token relation
    into a 64-column aggregate)."""
    # Hash the token array ONCE per row into a named column (see
    # _shingled on why the two-step select matters: the 64 bit-votes
    # below each reference `hs`, and inlining the tokenize+hash
    # pipeline into every vote would be a 64× per-row blow-up).
    with_hs = _right_size(df).select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("hs"),
    )
    n_tok = F.size(F.col("hs"))

    def bit_test(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    word = reduce(
        add,
        [
            F.when(
                F.size(F.filter(F.col("hs"), bit_test(i))) * 2 > n_tok,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(64)
        ],
    )
    # Same exchange barrier as minhash_signatures: one compact
    # (id, long) shuffle so banding/self-join never recompute the
    # 64-bit-vote expression.
    return (
        with_hs.select(F.col(id_col), word.alias("simhash"))
        .repartition(F.col(id_col))
    )


def hamming_band_pairs(sigs: DataFrame, *, id_col: str, sig_col: str,
                       max_hamming: int, bands: int) -> DataFrame:
    """Banded hamming near-dup join over a 64-bit signature column —
    the shared core of SimHash (text) and pHash (image) dedup.

    The 64 bits split into ``bands`` equal slices; any equal slice makes
    a candidate pair, and an exact popcount verifies. By pigeonhole the
    banding is COMPLETE for ``max_hamming ≤ bands - 1`` (a pair with
    fewer differing bits than bands must agree on ≥ one whole band), so
    callers must keep that inequality — asserted here. Arithmetic
    shiftright + mask is sign-safe for every band. Emits
    (doc_a, doc_b, hamming ≤ max_hamming)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding incomplete: max_hamming={max_hamming} needs "
            f"≥ {max_hamming + 1} bands, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("_sig"),
        F.stack(
            F.lit(bands),
            *[c for b in range(bands) for c in (
                F.lit(b),
                F.shiftright(F.col(sig_col), b * width).bitwiseAND(F.lit(mask)),
            )],
        ).alias("band", "bucket"),
    )
    a = banded.select("band", "bucket", F.col(id_col).alias("doc_a"),
                      F.col("_sig").alias("sh_a"))
    b = banded.select("band", "bucket", F.col(id_col).alias("doc_b"),
                      F.col("_sig").alias("sh_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_dup_pairs(df: DataFrame, *, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup: 4×16-bit band candidates (pigeonhole-complete
    for hamming ≤ 3), verified with an exact popcount. Emits
    (doc_a, doc_b, hamming)."""
    sh = simhash(df, id_col=id_col, text_col=text_col)
    return hamming_band_pairs(sh, id_col=id_col, sig_col="simhash",
                              max_hamming=max_hamming, bands=4)
