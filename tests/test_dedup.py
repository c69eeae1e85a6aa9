"""E9/E10 operator behavior: exact-dup collapse, MinHash recall against
the exact-Jaccard ground truth, SimHash sanity."""

from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_near_dup_pairs,
    pairwise_jaccard,
    pick_cluster_representatives,
    simhash_near_dup_pairs,
)
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan
from data_eng_taxi_ibis_dagster_spark.sources.tables import from_rows
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def _corpus_with_planted_dups(spark, sf_dir):
    """documents ∪ near-identical copies (one token appended) at
    doc_id+10000 — every original/copy pair is a true near-dup."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return d.unionByName(copies)


def test_exact_dedup_collapses_identical(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    result = exact_dedup(doubled).toPandas()
    assert (result["n_copies"] == 2).all()
    # representative is deterministic: always the original (smaller) id
    assert (result["keep_doc_id"] < 10000).all()


def test_minhash_recall_on_planted_dups(spark, sf_dir):
    corpus = _corpus_with_planted_dups(spark, sf_dir)
    found = minhash_near_dup_pairs(corpus, threshold=0.6).toPandas()
    pairs = set(zip(found["doc_a"], found["doc_b"]))
    originals = [r.doc_id for r in
                 load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    planted = {(i, i + 10000) for i in originals}
    recall = len(planted & pairs) / len(planted)
    assert recall >= 0.95, f"minhash recall {recall:.2f} on planted near-dups"
    # verification guarantee: everything reported clears the threshold
    assert (found["jaccard_sim"] >= 0.6).all()


def test_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    """Within-source exact pairs at J≥0.8 must be recovered by LSH
    (8×4 bands ⇒ S-curve threshold ≈0.59; at 0.8 miss prob ≈ (1-0.8^4)^8 ≈ 3%)."""
    d = load_table(spark, sf_dir, "documents")
    exact = pairwise_jaccard(d, block_col="source", threshold=0.8).toPandas()
    lsh = minhash_near_dup_pairs(d, threshold=0.8).toPandas()
    exact_pairs = set(zip(exact["doc_a"], exact["doc_b"]))
    lsh_pairs = set(zip(lsh["doc_a"], lsh["doc_b"]))
    if exact_pairs:
        recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
        assert recall >= 0.9, f"LSH recall {recall:.2f} vs exact J≥0.8 pairs"
    # precision against ground truth: LSH output is exact-verified, so
    # every within-source LSH pair must appear in the exact pair set
    assert {p for p in lsh_pairs} >= (exact_pairs & lsh_pairs)


def test_dedup_clusters_connected_components(spark):
    # two chains + a singleton pair: {1,2,3,4}, {10,11}, {20,21}
    pairs = from_rows(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = dedup_clusters(pairs).toPandas().set_index("doc_id")["canonical_id"]
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == 20


def test_dedup_clusters_quality_representative(spark):
    """pick_cluster_representatives swaps dedup_clusters' min-id
    canonicalization for argmax by (score desc, id asc): in {1,2,3,4}
    doc 3 has the top score, in {10,11} scores tie so the smaller id
    wins, and an id absent from the edge set never appears (singletons
    are the caller's concern)."""
    pairs = from_rows(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        ["doc_a", "doc_b"],
    )
    scores = from_rows(
        spark,
        [(1, 0.5), (2, 0.9), (3, 0.95), (4, 0.1),
         (10, 0.7), (11, 0.7), (99, 1.0)],
        ["doc_id", "quality"],
    )
    got = (pick_cluster_representatives(dedup_clusters(pairs), scores)
           .toPandas().set_index("doc_id")["canonical_id"])
    assert got[1] == got[2] == got[3] == got[4] == 3
    assert got[10] == got[11] == 10
    assert 99 not in got.index


def test_curation_best_rep_differs_from_min_id(spark, sf_dir, plan_cache):
    """curation_best_rep's done-criterion: the quality-argmax policy
    must genuinely change the kept set on the gate fixture (a cluster
    whose best member is not its smallest id exists) — otherwise the
    strict oracle would be vacuously identical to curation_stack's
    and pin nothing new. Same cardinality either way: both policies
    keep exactly one member per cluster. Plans come from the session
    cache — both pipelines' eager CC builds are already paid for by
    the registry sweeps."""
    best = set(plan_cache("curation_best_rep").toPandas()["doc_id"])
    minid = set(plan_cache("curation_stack").toPandas()["doc_id"])
    assert len(best) == len(minid)
    assert best != minid, (
        "quality-argmax representative picked the min id in every "
        "cluster — fixture no longer exercises the policy")


def test_dedup_clusters_on_planted_dups(spark, sf_dir):
    corpus = _corpus_with_planted_dups(spark, sf_dir)
    pairs = minhash_near_dup_pairs(corpus, threshold=0.6)
    clusters = dedup_clusters(pairs).toPandas()
    by_id = clusters.set_index("doc_id")["canonical_id"]
    edges = pairs.select("doc_a", "doc_b").toPandas()
    # CC contract: both endpoints of every edge share a canonical, and
    # the canonical is never larger than any member (min-pick)
    for a, b in zip(edges["doc_a"], edges["doc_b"]):
        assert by_id[a] == by_id[b], (a, b)
        assert by_id[a] <= min(a, b)


def test_simhash_finds_planted_dups(spark, sf_dir):
    corpus = _corpus_with_planted_dups(spark, sf_dir)
    found = simhash_near_dup_pairs(corpus, max_hamming=3).toPandas()
    assert (found["hamming"] <= 3).all()
    pairs = set(zip(found["doc_a"], found["doc_b"]))
    originals = [r.doc_id for r in
                 load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    planted = {(i, i + 10000) for i in originals}
    recall = len(planted & pairs) / len(planted)
    # one appended token flips few bits; the near-total-overlap pairs dominate
    assert recall >= 0.5, f"simhash recall {recall:.2f}"


def test_span_dedup_excises_planted_passage(spark):
    """A boilerplate passage pasted into two otherwise-unique documents
    must be detected window-exactly and cut from BOTH documents, while
    a document without any shared k-token window is untouched."""
    from data_eng_taxi_ibis_dagster_spark.plans.llm13 import (
        SPAN_K,
        _cov_array,
        _doc_spans,
    )

    boiler = " ".join(f"b{i}" for i in range(SPAN_K + 4))  # 20 tokens
    u1 = " ".join(f"u{i}" for i in range(30))
    u2 = " ".join(f"v{i}" for i in range(30))
    u3 = " ".join(f"w{i}" for i in range(40))
    docs = from_rows(
        spark,
        [(1, f"{u1} {boiler}"), (2, f"{boiler} {u2}"), (3, u3)],
        ["doc_id", "text"],
    )
    spans = _doc_spans(docs, SPAN_K)
    out = {r["doc_id"]: r for r in
           spans.select("doc_id", "dup_windows",
                        _cov_array(SPAN_K).alias("cov")).collect()}
    # the pasted passage spans positions 31..50 in doc 1, 1..20 in doc 2
    assert out[1]["dup_windows"] == 5 and out[2]["dup_windows"] == 5
    assert sorted(out[1]["cov"]) == list(range(31, 51))
    assert sorted(out[2]["cov"]) == list(range(1, 21))
    assert out[3]["dup_windows"] == 0 and out[3]["cov"] == []


def test_winnowing_guarantee_on_shared_run(spark, tmp_path):
    """Winnowing's defining guarantee: two documents sharing a token
    run of length ≥ w + k - 1 must share at least one selected
    fingerprint; fully disjoint documents share none."""
    import os

    from data_eng_taxi_ibis_dagster_spark.plans.llm13 import (
        _WIN_K,
        _WIN_W,
        fingerprint_winnowing,
    )

    run = " ".join(f"s{i}" for i in range(_WIN_W + _WIN_K - 1))
    docs = [
        (1, " ".join(f"a{i}" for i in range(20)) + " " + run),
        (2, run + " " + " ".join(f"b{i}" for i in range(20))),
        (3, " ".join(f"c{i}" for i in range(30))),
    ]
    sf = str(tmp_path / "winnow")
    os.makedirs(sf)
    from_rows(spark, docs, ["doc_id", "text"]) \
        .write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["doc_id"]: r for r in
           fingerprint_winnowing(spark, sf).collect()}
    assert out[1]["shared_fingerprints"] >= 1
    assert out[2]["shared_fingerprints"] >= 1
    assert out[3]["shared_fingerprints"] == 0


def test_span_dedup_differential_vs_python_reference(spark):
    """Independent-implementation differential: the mirrored Spark/SQL
    span logic could hide a SHARED semantic bug, so compare against a
    from-scratch Python reference (set arithmetic, no slicing tricks)
    on a deterministic pseudo-random corpus with planted structure."""
    import hashlib

    from data_eng_taxi_ibis_dagster_spark.plans.llm13 import (
        SPAN_K,
        _cov_array,
        _doc_spans,
    )

    # deterministic corpus: small vocab forces genuine cross-doc windows
    def word(seed: int) -> str:
        return f"w{int(hashlib.md5(str(seed).encode()).hexdigest(), 16) % 9}"

    docs = []
    for d in range(12):
        n = 10 + (d * 7) % 30
        toks = [word(d * 131 + i) for i in range(n)]
        docs.append((d, " ".join(toks)))
    # plant an exact 20-token copy across docs 3 and 7
    run = [word(9000 + i) for i in range(SPAN_K + 4)]
    docs[3] = (3, docs[3][1] + " " + " ".join(run))
    docs[7] = (7, " ".join(run) + " " + docs[7][1])

    # pure-Python reference
    from collections import Counter
    tok = {d: t.split() for d, t in docs}
    wins: list[tuple[int, int, str]] = []
    for d, t in tok.items():
        for s in range(len(t) - SPAN_K + 1):
            wins.append((d, s + 1, " ".join(t[s:s + SPAN_K])))
    counts = Counter(w for _, _, w in wins)
    expect = {}
    for d, t in tok.items():
        starts = [s for (dd, s, w) in wins if dd == d and counts[w] >= 2]
        covered = set()
        for s in starts:
            covered.update(range(s, s + SPAN_K))
        n_wins = max(len(t) - SPAN_K + 1, 0)
        expect[d] = (n_wins, len(starts), len(covered))

    sdf = from_rows(spark, docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_windows"], r["dup_windows"], len(r["cov"]))
        for r in _doc_spans(sdf, SPAN_K)
        .select("doc_id", "n_windows", "dup_windows",
                _cov_array(SPAN_K).alias("cov")).collect()
    }
    for d in got:
        assert got[d] == expect[d], (d, got[d], expect[d])
    # docs with no windows (too short) are absent from the aggregate
    assert set(got) == {d for d, e in expect.items() if e[0] > 0}


def test_incremental_dedup_probes_materialized_index(spark, sf_dir, tmp_path):
    """The persisted-index production path: materialize the corpus LSH
    band relation as band-partitioned parquet, probe it for a new
    batch, and (a) get pair-identical results to the inline path,
    (b) prove a band-sliced read prunes partitions at the scan."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        incremental_near_dup_pairs,
        lsh_band_index,
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)

    path = str(tmp_path / "lsh_index")
    lsh_band_index(corpus).write.mode("overwrite") \
        .partitionBy("band").parquet(path)
    persisted = spark.read.parquet(path)

    got = incremental_near_dup_pairs(
        batch, corpus, threshold=0.6, index=persisted)
    want = incremental_near_dup_pairs(batch, corpus, threshold=0.6)
    g = {(r["doc_new"], r["doc_other"], r["jaccard_sim"])
         for r in got.collect()}
    w = {(r["doc_new"], r["doc_other"], r["jaccard_sim"])
         for r in want.collect()}
    assert g == w and g  # identical, and non-trivial on the fixture

    # a single-band probe must reach the scan as a partition filter
    plan = physical_plan(persisted.filter(F.col("band") == 3))
    assert "PartitionFilters: [isnotnull(band" in plan


def test_persisted_index_concurrent_builders(spark, sf_dir):
    """Round-7 advisor + verdict #3: the persisted-index ingest query
    used ONE tempdir keyed by sf_dir, so two concurrent builders (a
    parallel pytest worker plus the driver sweep) could interleave the
    overwrite→append sequence — double-appended band rows inflate
    (band, bucket) sizes toward the max_bucket drop cap and silently
    lose pairs, surfacing as an inscrutable strict-hash mismatch. The
    builder now isolates each build under a per-invocation unique dir;
    this test runs two full build+collect cycles CONCURRENTLY against
    the same fixture dir and pins both result sets identical to a
    serial run."""
    from concurrent.futures import ThreadPoolExecutor

    from data_eng_taxi_ibis_dagster_spark.plans.registry import get

    builder = get("dedup_incremental_persisted").builder

    def run() -> set:
        df = builder(spark, sf_dir)
        return {(r["doc_new"], r["doc_other"], r["jaccard_sim"])
                for r in df.collect()}

    serial = run()
    assert serial  # non-trivial on the fixture
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = pool.submit(run), pool.submit(run)
        assert a.result(timeout=600) == serial
        assert b.result(timeout=600) == serial


def test_lsh_fixture_bucket_bounds(spark):
    """Fixture-drift guard (round-6 advisor): incremental_near_dup_pairs
    silently drops (band, bucket) groups larger than ``max_bucket``
    (default 1000) — a legitimate skew cap at scale, but if a fixture
    regeneration ever produced a hot bucket the strict oracles of
    dedup_incremental_batch / dedup_incremental_persisted (exact
    all-pairs Jaccard) would surface it as an inscrutable hash mismatch.
    Pin the max LSH bucket size on every correctness-gate corpus far
    below the cap, mirroring tests/test_audit_fixture_bounds.py.

    Gate corpora are DERIVED from the configured fixture root (round-7
    advisor: hardcoded /root/testdata literals broke the guard under
    SPARK_GRAFT_TEST_SF_DIR overrides): the pytest gate dir itself plus
    its sibling sf0.01 — the scale the external driver hash-compares
    at — when that sibling exists."""
    import os

    from tests.conftest import TEST_SF_DIR

    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        lsh_band_index,
    )

    gates = [TEST_SF_DIR]
    driver_gate = os.path.join(os.path.dirname(TEST_SF_DIR.rstrip("/")),
                               "sf0.01")
    if os.path.isdir(driver_gate) and driver_gate != TEST_SF_DIR:
        gates.append(driver_gate)
    for sf in gates:
        idx = lsh_band_index(
            load_table(spark, sf, "documents").select("doc_id", "text"))
        mx = (idx.groupBy("band", "bucket")
              .agg(F.count(F.lit(1)).alias("n"))
              .agg(F.max("n").alias("mx")).first()["mx"])
        assert mx <= 500, (
            f"{sf}: hottest LSH bucket has {mx} members — within 2x of "
            f"the max_bucket=1000 drop cap; the strict incremental-dedup "
            f"oracles assume NO bucket is ever dropped on the fixtures")


def test_index_dir_lru_bounds_session_growth(tmp_path, monkeypatch):
    """Per-build scratch dirs are removed at exit, so a long-lived
    interpreter rebuilding a plan repeatedly would accumulate them for
    the whole session. The LRU is PER BUILDER KEY (name × sf_dir):
    rebuilding the SAME query evicts its own superseded dirs, while
    registering many DIFFERENT queries' dirs (a sweep building
    everything before executing anything) evicts nothing across
    keys."""
    import os
    import tempfile

    from data_eng_taxi_ibis_dagster_spark.sources import sinks

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    made, other = [], []
    try:
        for i in range(sinks.TEMP_DIR_LRU_CAP + 3):
            p = sinks.scratch_dir("sg_same_query", "/data/sf")
            os.makedirs(p)
            made.append(p)
            q = sinks.scratch_dir(f"sg_other_{i}", "/data/sf")  # distinct keys
            os.makedirs(q)
            other.append(q)
        assert all(os.path.dirname(p) == str(tmp_path) for p in made + other)
        live = [p for p in made if os.path.isdir(p)]
        assert len(live) == sinks.TEMP_DIR_LRU_CAP
        assert live == made[-sinks.TEMP_DIR_LRU_CAP:], (
            "LRU must evict OLDEST same-key dirs first")
        assert all(os.path.isdir(q) for q in other), (
            "cross-key registrations must never evict another "
            "query's still-live dir")
    finally:
        for dirs in sinks._TEMP_DIRS.values():
            for p in made + other:
                if p in dirs:
                    dirs.remove(p)


def test_winnow_guarantee_shared_run(spark):
    """The MOSS recall contract the pair-verifier blocking rests on:
    any two documents sharing a contiguous run of >= w + k - 1 = 11
    tokens MUST share at least one selected fingerprint — regardless
    of where the run sits (prefix / middle / suffix) or what surrounds
    it. (Shorter overlaps carry no guarantee, so no absence assert.)"""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    run = " ".join(f"shared{i}" for i in range(11))  # w + k - 1 tokens
    fill_a = " ".join(f"lefta{i}" for i in range(20))
    fill_b = " ".join(f"rightb{i}" for i in range(20))
    docs = from_rows(
        spark,
        [
            (1, f"{run} {fill_a}"),            # run at prefix
            (2, f"{fill_b} {run}"),            # run at suffix
            (3, f"{fill_a} {run} {fill_b}"),   # run mid-document
            (4, " ".join(f"solo{i}" for i in range(20))),  # no shared run
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             winnow_candidate_pairs(
                 winnow_fingerprints(docs)).collect()}
    for want in ((1, 2), (1, 3), (2, 3)):
        assert want in pairs, (
            f"{want} share an 11-token run but no fingerprint — the "
            f"winnow recall guarantee is broken")
    assert not any(4 in p for p in pairs), (
        "doc 4 shares no content but entered a candidate pair")


def test_winnow_short_docs_emit_no_fingerprints(spark):
    """Documents shorter than k tokens have no k-gram to hash: they
    emit NO fingerprints and therefore never enter candidate pairs —
    mirrored exactly by the oracle CTEs (generate_series(1, len-k+1)
    is empty for len < k in DuckDB too), so the edge cannot drift
    between engines."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = from_rows(
        spark,
        [(1, "only seven tokens here not eight yet"),
         (2, "only seven tokens here not eight yet"),   # exact dup, still < k
         (3, "now this document has eight tokens exactly ok")],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs).toPandas()
    assert set(fps["doc_id"]) == {3}, (
        "sub-k documents must emit no fingerprints (they are exact-dedup "
        "territory, not near-dup blocking territory)")


# ---------------------------------------------------------------------------
# Deterministic-recall mode (round 11): prefix-filter closure
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def borderline_corpus_and_truth(spark):
    """Short docs with tiny shingle sets mutated near the threshold —
    the regime where 8x4 LSH recall is genuinely probabilistic (a pair
    at exactly J = 0.6 is missed with probability (1-0.6^4)^8 ≈ 33%),
    the shape the sf1 subset-strict sweep caught in round 11.  Seeded
    so the corpus (and therefore which pairs LSH misses) is fixed.
    Module-scoped WITH its brute-force truth: both recall tests read
    the same corpus and the all-pairs verification is the expensive
    half, so it is computed once."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(4, 8))
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        if rng.random() < 0.8:
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    for i in range(100, 160):
        rows.append((i, " ".join(rng.choices(vocab, k=rng.randint(3, 30)))))
    df = from_rows(spark, rows, ["doc_id", "text"])
    truth = {(r.doc_a, r.doc_b) for r in
             pairwise_jaccard(df, threshold=0.6)
             .select("doc_a", "doc_b").collect()}
    return df, truth


def test_exact_recall_closes_lsh_misses(borderline_corpus_and_truth):
    """``exact_recall=True`` must equal brute-force all-pairs Jaccard
    truth on a corpus where plain LSH provably misses at least one
    true pair — pinning both the prefix-filter theorem's recall
    guarantee AND that this corpus actually exercises it (if fixture
    drift ever made LSH find everything here, the test's adversarial
    premise is gone and it says so)."""
    df, truth = borderline_corpus_and_truth
    lsh = {(r.doc_a, r.doc_b) for r in
           minhash_near_dup_pairs(df, threshold=0.6).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             minhash_near_dup_pairs(df, threshold=0.6,
                                    exact_recall=True).collect()}
    assert truth - lsh, (
        "adversarial premise lost: plain LSH found every true pair on "
        "the borderline corpus — regenerate the corpus so the closure "
        "is actually exercised")
    assert exact == truth, (
        f"exact_recall missed {sorted(truth - exact)} / "
        f"invented {sorted(exact - truth)}")


def test_verify_shapes_agree(borderline_corpus_and_truth):
    """The gather and two-join verify shapes must return identical
    ``(doc_a, doc_b, jaccard_sim)`` rows on one distinct candidate
    relation — production picks the shape by candidate volume
    (``exact_recall``), so both must be the same function.  Threshold
    0 keeps every candidate, so every similarity is compared."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        _bucket_pairs,
        _shingled,
        _verify,
        lsh_band_index,
    )

    df, _ = borderline_corpus_and_truth
    cands = _bucket_pairs(lsh_band_index(df, exact_recall=True),
                          id_col="doc_id", max_bucket=1000)
    sh = _shingled(df, id_col="doc_id", text_col="text", n=3)
    rows = {
        gather: sorted(tuple(r) for r in
                       _verify(cands, sh, sh, threshold=0.0,
                               gather=gather).collect())
        for gather in (True, False)
    }
    assert rows[True], "no candidates on the borderline corpus"
    assert len(rows[True]) == cands.count()
    assert rows[True] == rows[False]


def test_incremental_exact_recall_closes_probe_misses(borderline_corpus_and_truth):
    """The incremental (batch-vs-index) probe under ``exact_recall``
    must surface exactly the true batch-vs-allowed pairs on the same
    adversarial corpus — including through a grown in-memory index."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        incremental_near_dup_pairs,
    )

    df, all_truth = borderline_corpus_and_truth
    batch = df.filter(F.col("doc_id") % 2 == 1)
    corpus = df.filter(F.col("doc_id") % 2 == 0)
    got = {(r.doc_new, r.doc_other) for r in
           incremental_near_dup_pairs(batch, corpus, threshold=0.6,
                                      exact_recall=True).collect()}
    truth = {(max(a, b), min(a, b)) for a, b in all_truth
             if max(a, b) % 2 == 1}
    assert got == truth


def test_prefix_rows_exempt_from_hot_bucket_cap(spark):
    """PREFIX_BAND rows carry the recall guarantee, so the hot-bucket
    skew cap must never drop them; ordinary band buckets above the cap
    are still dropped (the degenerate-key guard)."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        PREFIX_BAND,
        _bucket_pairs,
    )

    stacked = from_rows(
        spark,
        # one hot LSH bucket (band 0) and one equally hot prefix bucket
        [(i, 0, 42) for i in range(1, 5)]
        + [(i, PREFIX_BAND, 7) for i in range(1, 5)],
        ["doc_id", "band", "bucket"],
    )
    pairs = {(r.doc_a, r.doc_b) for r in
             _bucket_pairs(stacked, id_col="doc_id", max_bucket=3)
             .collect()}
    assert pairs == {(a, b) for a in range(1, 5) for b in range(1, 5)
                     if a < b}, (
        "prefix bucket must survive the cap (recall guarantee)")
    only_band = from_rows(
        spark, [(i, 0, 42) for i in range(1, 5)],
        ["doc_id", "band", "bucket"])
    assert _bucket_pairs(only_band, id_col="doc_id",
                         max_bucket=3).count() == 0, (
        "hot ordinary band bucket must still be dropped")


def test_bucket_pairs_prefix_only_equals_generic(spark):
    """``_bucket_pairs(prefix_only=True)`` (round 12: bucket-keyed
    exchange + join, no vacuous skew-cap window — removes the second
    full exchange per side that Catalyst's constant-folding of the
    PREFIX_BAND literal forced) must emit exactly the pairs the
    generic (band, bucket) plan emits on a prefix-only relation,
    including the PPJoin position/length filtering."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        PREFIX_BAND,
        _bucket_pairs,
    )

    rows = [
        # bucket 7: docs 1-3 with real pos/sz (doc 3 fails the length
        # filter against 1 and 2: 0.6*30 > 10+1e-9)
        (1, PREFIX_BAND, 7, 1, 10),
        (2, PREFIX_BAND, 7, 2, 12),
        (3, PREFIX_BAND, 7, 5, 30),
        # bucket 9: a pair whose position filter under-bounds (pos at
        # the end of both prefixes -> ubound 1 < need)
        (4, PREFIX_BAND, 9, 10, 10),
        (5, PREFIX_BAND, 9, 10, 10),
        # bucket 11: a clean passing pair
        (6, PREFIX_BAND, 11, 1, 20),
        (7, PREFIX_BAND, 11, 1, 21),
    ]
    stacked = from_rows(spark, rows, ["doc_id", "band", "bucket", "pos", "sz"])
    generic = {(r.doc_a, r.doc_b) for r in
               _bucket_pairs(stacked, id_col="doc_id", max_bucket=1000,
                             threshold=0.6).collect()}
    fast = {(r.doc_a, r.doc_b) for r in
            _bucket_pairs(stacked, id_col="doc_id", max_bucket=1000,
                          threshold=0.6, prefix_only=True).collect()}
    assert fast == generic
    assert (1, 2) in fast and (6, 7) in fast
    assert (4, 5) not in fast, "position filter must still apply"


def _prefix_rows_hash_order(df, t):
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        _prefix_stack,
    )
    return _prefix_stack(df, threshold=t)


def _prefix_rows_fused(df, t):
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        PREFIX_BAND,
        _fused_band_prefix_stack,
    )
    return _fused_band_prefix_stack(df, threshold=t) \
        .filter(F.col("band") == PREFIX_BAND)


def _prefix_rows_df_order(df, t):
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        _prefix_stack_df_order,
    )
    return _prefix_stack_df_order(df, id_col="doc_id", text_col="text",
                                  n=3, threshold=t)


@pytest.mark.parametrize("build", [_prefix_rows_hash_order,
                                   _prefix_rows_fused,
                                   _prefix_rows_df_order])
@pytest.mark.parametrize("size,t,want", [
    (35, 0.6, 15),
    # (1-0.8)*5 is 0.9999999999999998 in binary: without the nudge
    # floor() gives p = 1
    (5, 0.8, 2),
])
def test_prefix_length_floor_guard(spark, build, size, t, want):
    """The prefix length p = floor((1-t)|A|)+1 of every prefix stack
    must round UP under float noise, never down: the exact value of
    (1-t)|A| is an integer in both cases, and binary arithmetic may
    land just below it — p must still be floor(exact)+1 (a shorter
    prefix breaks the recall theorem)."""
    text = " ".join(f"t{i}" for i in range(size + 2))  # size 3-shingles
    df = from_rows(spark, [(1, text)], ["doc_id", "text"])
    n_prefix = build(df, t).count()
    assert n_prefix == want, f"expected p={want} prefix rows, got {n_prefix}"


def test_allpairs_prefix_equals_bruteforce(borderline_corpus_and_truth):
    """The standalone AllPairs/PPJoin join must equal brute-force truth
    on the borderline corpus — the prefix machinery pinned with NO LSH
    union to mask a candidate-completeness regression."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        allpairs_near_dup_pairs,
    )

    df, truth = borderline_corpus_and_truth
    got = {(r.doc_a, r.doc_b) for r in
           allpairs_near_dup_pairs(df, threshold=0.6).collect()}
    assert got == truth


def test_fused_stack_equals_union_composition(borderline_corpus_and_truth):
    """The one-scan fused exact-recall stack (round 12 — band rows and
    prefix rows from a single shingle projection) must be ROW-SET
    IDENTICAL to the two-scan composition it replaced
    (``_band_stack(minhash_signatures(df)) ∪ _prefix_stack(df)``) —
    the equivalence that lets the strict all-pairs oracles keep their
    recall theorem across the plan rewrite."""
    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        _band_stack,
        _fused_band_prefix_stack,
        _prefix_stack,
        minhash_signatures,
    )

    df, _ = borderline_corpus_and_truth
    fused = _fused_band_prefix_stack(df)
    old = (
        _band_stack(minhash_signatures(df), id_col="doc_id",
                    bands=8, rows=4)
        .withColumn("pos", F.lit(0)).withColumn("sz", F.lit(0))
        .unionByName(_prefix_stack(df))
    )
    # name/type equality (nullability flags differ between explode and
    # stack generators and are not semantic here)
    assert [(f.name, f.dataType) for f in fused.schema.fields] == \
        [(f.name, f.dataType) for f in old.schema.fields]
    assert fused.exceptAll(old).count() == 0
    assert old.exceptAll(fused).count() == 0


def test_incremental_exact_recall_rejects_band_only_index(spark):
    """``incremental_near_dup_pairs(exact_recall=True)`` must FAIL FAST
    on a pre-materialized band-only index (no pos/sz columns — built
    with ``exact_recall=False``): silently normalizing it would run
    the probe with no corpus-side prefix rows, quietly degrading the
    deterministic-recall guarantee to probabilistic LSH recall
    (round-12 advisor)."""
    import pytest

    from data_eng_taxi_ibis_dagster_spark.operators.dedup import (
        incremental_near_dup_pairs,
        lsh_band_index,
    )

    corpus = from_rows(spark, [(0, "a b c d e f"), (2, "b c d e f g")],
                       ["doc_id", "text"])
    batch = from_rows(spark, [(1, "a b c d e f")], ["doc_id", "text"])
    band_only = lsh_band_index(corpus, exact_recall=False)
    with pytest.raises(ValueError, match="exact_recall"):
        incremental_near_dup_pairs(batch, corpus, index=band_only,
                                   exact_recall=True)
    # the exact-recall index passes the guard and the probe still
    # surfaces the planted true pair
    good = lsh_band_index(corpus, exact_recall=True)
    got = {(r.doc_new, r.doc_other) for r in
           incremental_near_dup_pairs(batch, corpus, index=good,
                                      exact_recall=True).collect()}
    assert (1, 0) in got
