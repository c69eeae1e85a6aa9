"""Source-level broadcast lint: a forced ``F.broadcast(...)`` hint
bypasses both the planner's size statistics and AQE's runtime re-plan,
so it is only ever safe on a relation whose size is BOUNDED BY
CONSTRUCTION — fixed-cardinality dims, 1-row scalar aggregates,
parameter-sized artifacts (codebooks, merge tables, bucket offsets),
probe/query sets. Forcing it on anything that scales with the corpus is
a driver/executor OOM at 100 TB — e.g. force-broadcasting a
corpus-order drop list, or a full TPC-H customer/supplier/part side
(those go unhinted; stats/AQE broadcast them while they fit).

This lint makes the class unrepresentable: every ``F.broadcast`` call
site in the package must be covered by a ``BROADCAST_BOUNDS`` entry
naming its enclosing function, its EXACT site count, a bound kind, and
a justification. A new hint (or a new site inside an already-annotated
function) fails CI until someone writes down why the broadcast side
cannot grow with the data.
"""

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_eng_taxi_ibis_dagster_spark")

#: (module, enclosing function) -> (n_sites, kind, justification).
#: Kinds:
#:   "fixed-dim" — TPC-H nation (25 rows) / region (5 rows): constant
#:                 cardinality at EVERY scale factor by spec.
#:   "scalar"    — a global / tiny-group aggregate: 1 row (or ≤ a few
#:                 group-domain rows) by construction.
#:   "probe"     — the query/anchor/eval side of a retrieval or
#:                 decontamination op: bounded by |Q|, which is an
#:                 input-contract constant, not corpus-scaling.
#:   "artifact"  — parameter-sized intermediate: k·d codebooks,
#:                 n_merges BPE tables, ≤buckets offset relations,
#:                 d-row per-dimension stats, 2^k hash-bucket tables.
#:   "grid"      — attribute-domain marginals (|event_type|, 24 hours,
#:                 status×priority): bounded by the attribute domain.
BROADCAST_BOUNDS = {
    ("operators/graph.py", "pagerank"):
        (1, "scalar", "1-row dangling-mass total per iteration"),
    ("operators/order.py", "_group_join"):
        (1, "artifact", "the one broadcast site of the range-bucketed scan: "
                        "the (lo,hi) range relation is 1 row (a global "
                        "min/max aggregate, also over caller bounds) or "
                        "|groups| rows for the low-cardinality group keys "
                        "of the grouped_* contract; the offsets relation is <= buckets "
                        "x |groups| rows; the bounded_scores per-score "
                        "offsets are bounded by the caller-declared score "
                        "domain. The recursive tie_split branch, whose "
                        "|groups| is |distinct scores|, passes hint=False "
                        "and takes the hash-join path"),
    ("operators/order.py", "global_sort_index"):
        (1, "artifact", "<=buckets-row cumulative-offset relation"),
    ("operators/pq.py", "ivfpq_topk"):
        (1, "probe", "distinct probed centroid ids: <= |Q| * nprobe"),
    ("operators/pq.py", "pq_encode"):
        (1, "artifact", "PQ codebook: m_subspaces x 2^bits x d_sub cells"),
    ("operators/pq.py", "pq_reconstruct"):
        (1, "artifact", "PQ codebook: m_subspaces x 2^bits x d_sub cells"),
    ("operators/pq.py", "retrieval_stack"):
        (4, "probe", "query set, stage-1/2 candidate ids (<=|Q| * k per "
                     "stage via WindowGroupLimit), query facets"),
    ("operators/similarity.py", "cosine_threshold_pairs_blocked"):
        (4, "artifact", "k-centroid table + B-row per-block radii (x2) + "
                        "B^2-row surviving block-pair list"),
    ("operators/similarity.py", "cosine_topk"):
        (1, "probe", "query vectors: |Q| rows by input contract"),
    ("operators/similarity.py", "refine_topk"):
        (1, "probe", "query vectors: |Q| rows by input contract"),
    ("plans/advanced.py", "local_supplier_volume"):
        (2, "fixed-dim", "nation (25) and filtered region (1 row)"),
    ("plans/advanced.py", "returned_items_top_customers"):
        (1, "fixed-dim", "nation (25 rows)"),
    ("plans/analytics2.py", "anomaly_mad_outliers"):
        (2, "scalar", "1-row median, then 1-row MAD"),
    ("plans/analytics2.py", "chi2_type_by_hour"):
        (3, "grid", "row/column marginals + 1-row grand total of the "
                    "|event_type| x 24 contingency table"),
    ("plans/analytics2.py", "graph_triangle_tokens"):
        (1, "scalar", "1-row degeneracy threshold"),
    ("plans/audits.py", "bpe_encode_audit"):
        (1, "artifact", "BPE merge table: n_merges rows by parameter"),
    ("plans/audits.py", "bpe_merge_audit"):
        (1, "scalar", "1-row vocab stats"),
    ("plans/llm12.py", "bpe_encode_corpus"):
        (1, "artifact", "BPE merge table: n_merges rows by parameter"),
    ("plans/llm13.py", "contrastive_pair_mining"):
        (1, "probe", "anchor set: fixed small id filter"),
    ("plans/llm13.py", "embedding_covariance"):
        (4, "artifact", "d-row per-dimension sum/variance tables (x4)"),
    ("plans/llm16.py", "similarity_maxsim_topk"):
        (2, "probe", "query facet set (|Q| x facets rows)"),
    ("plans/llm17.py", "dsir_importance_topk"):
        (2, "artifact", "1-row totals + 2^k hash-bucket likelihood table"),
    ("plans/llm17.py", "retrieval_bm25_topk"):
        (4, "probe", "query terms, per-query-term df (vocab restricted "
                     "to |Q| terms), 1-row corpus stats"),
    ("plans/llm3.py", "bpe_learn_merges"):
        (1, "scalar", "1-row vocab stats"),
    ("plans/llm4.py", "decontaminate_ngram"):
        (1, "probe", "eval-set shingles: the benchmark side of "
                     "decontamination is fixed-size by definition"),
    ("plans/relational.py", "join_sales_by_region"):
        (2, "fixed-dim", "nation (25) + region (5)"),
    ("plans/tpch.py", "global_sales_opportunity"):
        (1, "scalar", "1-row global average balance (Q22)"),
    ("plans/tpch.py", "important_part_volume"):
        (1, "scalar", "1-row global value threshold (Q11)"),
    ("plans/tpch.py", "min_cost_supplier"):
        (2, "fixed-dim", "nation (25) + filtered region (1 row) (Q2)"),
    ("plans/tpch.py", "product_type_profit"):
        (1, "fixed-dim", "nation (25 rows) (Q9)"),
    ("plans/tpch.py", "promo_part_suppliers"):
        (1, "fixed-dim", "filtered nation (1 row) (Q20)"),
    ("plans/tpch.py", "top_supplier"):
        (1, "scalar", "1-row MAX revenue (Q15)"),
    ("plans/windows2.py", "window_distribution_funcs"):
        (1, "grid", "1 row per o_orderstatus (<=3)"),
}

VALID_KINDS = {"fixed-dim", "scalar", "probe", "artifact", "grid"}


def _broadcast_sites(pkg: str = PKG) -> tuple[
        dict[tuple[str, str], int], dict[tuple[str, str], int]]:
    """(call sites, alias references) per (module, enclosing function).

    A *call site* is ``F.broadcast(...)`` / ``broadcast(...)``.  An
    *alias reference* is any OTHER mention of a ``broadcast`` attribute
    or name — ``hint = F.broadcast``, ``b = F.broadcast; b(df)``, a
    broadcast passed as a callback — which detaches the hint from its
    argument so the per-call-site census cannot see what it is applied
    to (a conditional ``hint = F.broadcast if ... else`` binding is
    invisible to a call-site count).  Alias references need their
    own declared bound covering everything the alias is applied to."""
    calls: dict[tuple[str, str], int] = {}
    aliases: dict[tuple[str, str], int] = {}
    for root, _, files in os.walk(pkg):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            tree = ast.parse(open(path).read())
            stack: list[str] = []
            call_funcs: set[int] = set()

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    name = (f.attr if isinstance(f, ast.Attribute)
                            else getattr(f, "id", None))
                    if name == "broadcast":
                        call_funcs.add(id(f))
                        key = (rel, ".".join(stack) or "<module>")
                        calls[key] = calls.get(key, 0) + 1
                    self.generic_visit(node)

                def _ref(self, node, name):
                    if name == "broadcast" and id(node) not in call_funcs:
                        key = (rel, ".".join(stack) or "<module>")
                        aliases[key] = aliases.get(key, 0) + 1

                def visit_Attribute(self, node):
                    self._ref(node, node.attr)
                    self.generic_visit(node)

                def visit_Name(self, node):
                    self._ref(node, node.id)
                    self.generic_visit(node)

                def visit_ImportFrom(self, node):
                    # ``from pyspark.sql.functions import broadcast
                    # as bc`` detaches the hint from the F.broadcast
                    # spelling entirely — census the import itself as
                    # an alias reference so the rebinding needs a
                    # declared bound too.
                    for a in node.names:
                        if a.name == "broadcast":
                            self._ref(node, "broadcast")
                    self.generic_visit(node)

            V().visit(tree)
    return calls, aliases


#: (module, enclosing function) -> (n_alias_refs, justification) for
#: every non-call reference to ``broadcast`` (see ``_broadcast_sites``).
#: The justification must bound EVERYTHING the alias is ever applied
#: to, since the census cannot.
BROADCAST_ALIASES: dict[tuple[str, str], tuple[int, str]] = {}


def test_every_broadcast_hint_is_bounded():
    found, _ = _broadcast_sites()
    missing = {k: n for k, n in found.items() if k not in BROADCAST_BOUNDS}
    assert not missing, (
        f"F.broadcast hints without a declared bound: {missing} — a "
        f"forced broadcast is only safe on a bounded-by-construction "
        f"relation; add a BROADCAST_BOUNDS entry (fixed-dim/scalar/"
        f"probe/artifact/grid) or drop the hint and let stats/AQE "
        f"choose from observed size")
    stale = {k for k in BROADCAST_BOUNDS if k not in found}
    assert not stale, f"BROADCAST_BOUNDS entries with no site: {stale}"
    drift = {k: (found[k], BROADCAST_BOUNDS[k][0])
             for k in found if found[k] != BROADCAST_BOUNDS[k][0]}
    assert not drift, (
        f"broadcast site-count drift (found, declared): {drift} — a new "
        f"hint inside an annotated function still needs review")
    bad_kinds = {k: v[1] for k, v in BROADCAST_BOUNDS.items()
                 if v[1] not in VALID_KINDS}
    assert not bad_kinds, f"unknown bound kinds: {bad_kinds}"


def test_every_broadcast_alias_is_bounded():
    """Aliased hints (``hint = F.broadcast``) detach the hint from its
    arguments, so each alias reference needs its own declared bound —
    without this, ``b = F.broadcast; b(corpus_df)`` would bypass the
    census entirely."""
    _, aliases = _broadcast_sites()
    missing = {k: n for k, n in aliases.items()
               if k not in BROADCAST_ALIASES}
    assert not missing, (
        f"non-call broadcast references without a declared bound: "
        f"{missing} — an alias hides what the hint is applied to; add "
        f"a BROADCAST_ALIASES entry bounding every relation the alias "
        f"can touch, or inline the F.broadcast call")
    stale = {k for k in BROADCAST_ALIASES if k not in aliases}
    assert not stale, f"BROADCAST_ALIASES entries with no ref: {stale}"
    drift = {k: (aliases[k], BROADCAST_ALIASES[k][0])
             for k in aliases if aliases[k] != BROADCAST_ALIASES[k][0]}
    assert not drift, (
        f"broadcast alias-ref drift (found, declared): {drift}")


def test_alias_census_mechanism(tmp_path):
    """The census itself: an aliased broadcast in a synthetic module
    must surface as an alias reference (NOT a call site), and the
    direct call must surface as a call site (NOT an alias)."""
    (tmp_path / "m.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def g(df):\n"
        "    b = F.broadcast\n"          # alias ref
        "    return b(df)\n"             # call of the ALIAS (unseen name)
        "def h(df):\n"
        "    return F.broadcast(df)\n"   # plain call site
    )
    (tmp_path / "n.py").write_text(
        # import-renaming detaches the hint from the 'broadcast'
        # spelling before any call — must census as an alias ref
        "from pyspark.sql.functions import broadcast as bc\n"
        "def g(df):\n"
        "    return bc(df)\n"
    )
    calls, aliases = _broadcast_sites(str(tmp_path))
    assert calls == {("m.py", "h"): 1}
    assert aliases == {("m.py", "g"): 1, ("n.py", "<module>"): 1}


def test_no_broadcast_of_raw_sf_scaling_tables():
    """The forced-broadcast-of-a-base-table class, pinned textually: no
    ``F.broadcast(load_table(...))`` of an SF-scaling base table
    (customer/supplier/part/orders/lineitem/documents/embeddings/
    events), however filtered — a filter changes the constant, not the
    linear growth. nation/region are exempt (fixed cardinality by
    TPC-H spec)."""
    import re

    scaling = ("customer", "supplier", "part", "orders", "lineitem",
               "documents", "embeddings", "events")
    offenders = []
    for root, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path).read()
            for m in re.finditer(r"F\.broadcast\(\s*load_table\("
                                 r"[^)]*\"(\w+)\"\s*\)", src):
                if m.group(1) in scaling:
                    ln = src[:m.start()].count("\n") + 1
                    offenders.append(
                        f"{os.path.relpath(path, PKG)}:{ln} "
                        f"broadcasts {m.group(1)}")
    assert not offenders, offenders
