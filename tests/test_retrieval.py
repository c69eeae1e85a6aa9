"""Semantic + plan-shape checks for the lexical-retrieval / data-
selection pair (plans/llm17.py). Hash-exact engine parity is covered by
test_parity.py; these assert the *meaning* (BM25 candidates really
contain their query's terms, DSIR really prefers target-language
documents) and the scale shape (query-term pruning and the bucket
log-ratio table ride broadcast joins, never a corpus shuffle)."""

from pyspark.sql import functions as F

from data_eng_taxi_ibis_dagster_spark.operators import text as T
from data_eng_taxi_ibis_dagster_spark.plans.llm17 import (
    _BM25_QUERIES,
    _BM25_TOPK,
    dsir_importance_topk,
    retrieval_bm25_topk,
)
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan
from data_eng_taxi_ibis_dagster_spark.sources.tables import load_table


def test_bm25_candidates_contain_query_terms(spark, sf_dir):
    res = retrieval_bm25_topk(spark, sf_dir).collect()
    assert res, "retrieval returned nothing"
    by_query: dict[int, list] = {}
    for r in res:
        by_query.setdefault(r.query_id, []).append(r)
    qterms = {}
    for qid, t in _BM25_QUERIES:
        qterms.setdefault(qid, set()).add(t)

    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text").collect()
    }
    for qid, rows in by_query.items():
        assert len(rows) <= _BM25_TOPK
        # ranks are dense from 1 and scores non-increasing along them
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.bm25_score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
        for r in rows:
            assert docs[r.doc_id] & qterms[qid], (
                f"doc {r.doc_id} shares no term with query {qid}")


def test_bm25_prunes_postings_via_broadcast(spark, sf_dir):
    plan = physical_plan(retrieval_bm25_topk(spark, sf_dir))
    # Query terms, df stats, and corpus stats all join broadcast; the
    # only shuffles carry pruned postings / doc lengths.
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan
    # Per-query ranking is a partitioned window with a group limit
    # pushed below the shuffle (top-k per query, not a global sort).
    assert "WindowGroupLimit" in plan, plan


def test_dsir_prefers_target_language(spark, sf_dir):
    res = dsir_importance_topk(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rows = res.join(langs, "doc_id").collect()
    assert rows
    en = [r.dsir_weight for r in rows if r.lang == "en"]
    other = [r.dsir_weight for r in rows if r.lang != "en"]
    assert en, "no target-language docs scored"
    if other:  # top-k may be all-en — that's the preference itself
        assert (sum(en) / len(en)) > (sum(other) / len(other))
    # weights ordered: the selection really is top-k by weight
    ws = [r.dsir_weight for r in sorted(rows, key=lambda r: -r.dsir_weight)]
    assert ws[0] == max(r.dsir_weight for r in rows)


def test_dsir_bucket_table_is_broadcast(spark, sf_dir):
    plan = physical_plan(dsir_importance_topk(spark, sf_dir))
    # The 256-row log-ratio relation and the 1-row totals both ride
    # broadcast joins; TakeOrderedAndProject (not a global Sort) caps
    # the output.
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_weight_is_bigram_bucket_sum(spark, sf_dir):
    """n_bigrams really is the document's bigram count (token count − 1
    for single-spaced fixture docs with ≥ 2 tokens)."""
    res = dsir_importance_topk(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.size(T.tokens("text")) - 1).alias("expect"))
    bad = (res.join(d, "doc_id")
           .filter(F.col("n_bigrams") != F.col("expect")).count())
    assert bad == 0
