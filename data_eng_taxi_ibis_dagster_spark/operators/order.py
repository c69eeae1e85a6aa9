"""Deterministic global and per-group ordering without a single-partition sort.

A global ``row_number() OVER (ORDER BY …)`` in Spark collapses to ONE
window partition — the whole dataset funnels through a single task.
``repartitionByRange`` + ``zipWithIndex`` is the folk fix, but its
range boundaries come from a sampling pass with a per-job seed, so two
consumers of the same input can disagree on a row's partition.

Every ordered analytic here is one range-bucketed scan, :func:`_scan`,
with deterministic buckets derived from the data itself:

1. a ``(lo, hi)`` range relation — a global (or per-group) ``min``/``max``
   aggregate over the input, or over caller-supplied ``bounds``;
2. an affine bucket id, a clamped monotone function of the score, so
   equal scores always share a bucket (NULL scores lead in bucket −1);
3. a per-(group, bucket) aggregate and an offsets window over those
   ≤ ``buckets`` rows per group — each bucket's combine over all lower
   buckets (plus, optionally, the group total);
4. a within-(group, bucket) window, combined with the offset.

The public functions differ only in three ways:

* the combiner — row count (rank/ntile), sum (prefix sum) or max
  (prefix max);
* the frame — inclusive for count and sum, exclusive for max;
* the grouping — none (``distributed_*``) or ``group_cols``
  (``grouped_*``).

The only single-partition work is the offsets window over ``buckets``
rows, and every broadcast of the scan goes through :func:`_group_join`:
the 1-row (or |groups|-row) range relation and the ≤ ``buckets`` ×
|groups| offsets relation.

Inputs must be deterministic: the range probe and the staged relation
both consume the input, so its upstream plan runs once per consumer and
both runs must see the same rows. Pinning the input with
``localCheckpoint`` is not an option — under AQE it executes the input's
shuffle stages at plan build, outside the caller's action.

:func:`global_sort_index` is the hash-prefix variant: when the sort key
leads with a hex hash, its first characters already are balanced,
ordered buckets, with no range probe at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Name of the range-bucket column :func:`_scan` partitions its windows
#: by (and orders its offsets windows by).
BUCKET_COL = "_scan_bucket"

#: combiner → the aggregate that rolls rows (and buckets) up.
_ROLL = {"count": F.sum, "sum": F.sum, "max": F.max}


def _group_join(left: DataFrame, right: DataFrame, cols: list[str],
                hint: bool) -> DataFrame:
    """Equi-join ``left`` to ``right`` on ``cols`` with NULL-AS-EQUAL
    semantics (a cross join when ``cols`` is empty), broadcasting
    ``right`` when ``hint`` is set. ``PARTITION BY`` keeps NULL group
    keys as their own partition, so the joins back to the range and
    offsets relations must too — a plain equi-join would drop every
    NULL-group row. The bucket column is never NULL and joins
    with plain equality, which keeps the planner's uniqueness-based size
    estimate for the join (a ``<=>`` key hides it, and the estimate falls
    back to the product of both sides). The right side's join columns
    are renamed first so self-derived lineage stays unambiguous;
    EqualNullSafe keys still plan as hash joins."""
    ren = {c: f"_nsj_{c}" for c in cols}
    right = right.withColumnsRenamed(ren)
    cond = [left[c] == right[rc] if c == BUCKET_COL
            else left[c].eqNullSafe(right[rc]) for c, rc in ren.items()]
    right = F.broadcast(right) if hint else right
    return left.join(right, cond or None).drop(*ren.values())


def _merge(combiner: str, lower: Column, within: Column) -> Column:
    """A row's result from its lower-part offset and within-part value
    (``greatest`` skips NULLs, as an empty max frame is NULL)."""
    return F.greatest(lower, within) if combiner == "max" else lower + within


def _offsets(rel: DataFrame, keys: list[str], order: str, col: str,
             combiner: str, name: str, total: str | None) -> DataFrame:
    """Per row of ``rel``: the combine of ``col`` over every strictly
    lower ``order`` row of its ``keys`` partition as ``name`` (0 for an
    empty count/sum), plus the partition's sum as ``total``."""
    w = Window.partitionBy(*keys).orderBy(order)
    lower = _ROLL[combiner](col).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    if combiner != "max":
        lower = F.coalesce(lower, F.lit(0).cast("long"))
    tot = [] if total is None else [F.sum(col).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).alias(total)]
    return rel.select(*keys, order, lower.alias(name), *tot)


def _scan(df: DataFrame, group_cols: list[str], score: Column,
          value: Column | None, tiebreaks: tuple[Column, ...],
          combiner: str, *, buckets: int, name: str,
          total_name: str | None = None, bounds: DataFrame | None = None,
          hint: bool = True) -> DataFrame:
    """The range-bucketed scan behind every public function (see the
    module docstring). ``value`` is ignored by the count combiner.

    ``bounds`` replaces the per-group range probe with one global range
    taken from a caller relation (first column = low, second = high).
    It is normalized by the same aggregate as the probe, so it always
    yields one row with lo ≤ hi. Correctness is insensitive to the range
    values: the bucket stays a clamped monotone function of the score,
    so a poor range only unbalances bucket loads, and a NULL range puts
    every non-NULL score in bucket 0.

    ``hint=False`` hash-joins the per-group range and offsets
    relations instead of broadcasting them, for when |groups| itself
    scales with the input (the recursive ``tie_split`` path)."""
    g, b = [*group_cols], BUCKET_COL
    roll = _ROLL[combiner]
    if bounds is None:
        src, keys, lo, hi = df, g, score, score
    else:
        src, keys = bounds, []
        lo, hi = (F.col(c) for c in bounds.columns[:2])
    rng = src.groupBy(*keys).agg(
        F.min(F.least(lo, hi)).cast("double").alias("_scan_lo"),
        F.max(F.greatest(lo, hi)).cast("double").alias("_scan_hi"))
    s, lo, hi = F.col("_scan_s"), F.col("_scan_lo"), F.col("_scan_hi")
    affine = F.floor((s.cast("double") - lo) / ((hi - lo) + F.lit(1e-12))
                     * buckets)
    cols = {"_scan_s": score} if combiner == "count" else {
        "_scan_s": score, "_scan_v": value}
    staged = (
        _group_join(df.withColumns(cols), rng, keys, hint or not keys)
        .withColumn(b, F.when(s.isNull(), F.lit(-1)).otherwise(F.coalesce(
            F.least(F.lit(buckets - 1), F.greatest(F.lit(0), affine)),
            F.lit(0))).cast("long"))
        .drop("_scan_lo", "_scan_hi"))
    agg, within = ((F.count("*"), F.row_number()) if combiner == "count"
                   else (roll("_scan_v"), roll("_scan_v")))
    offsets = _offsets(
        staged.groupBy(*g, b).agg(agg.alias("_scan_agg")),
        g, b, "_scan_agg", combiner, "_scan_off",
        None if total_name is None else "_scan_tot")
    w = Window.partitionBy(*g, b).orderBy(s, *tiebreaks).rowsBetween(
        Window.unboundedPreceding,
        -1 if combiner == "max" else Window.currentRow)
    out = _group_join(staged, offsets, [*g, b], hint or not g) \
        .withColumn(name, _merge(combiner, F.col("_scan_off"), within.over(w)))
    if total_name is not None:
        out = out.withColumn(total_name, F.col("_scan_tot"))
    return out.drop(b, "_scan_s", "_scan_v", "_scan_off", "_scan_tot")


def _tie_split(df: DataFrame, score: Column, value: Column,
               tiebreaks: tuple[Column, ...], tie_split: Column,
               combiner: str, *, buckets: int, name: str,
               total_name: str | None, bounds: DataFrame | None,
               tie_bounds: DataFrame | None,
               bounded_scores: bool) -> DataFrame:
    """The point-mass decomposition of a global prefix sum or max,
    ordered by ``(score, tie_split, *tiebreaks)``: per-score aggregates;
    an exclusive cross-score prefix over that DISTINCT-score relation
    (which cannot carry a point mass); and a within-score prefix that
    range-buckets ``tie_split`` per score. Exact because SUM and MAX are
    order-insensitive within a tie group.

    The cross-score prefix is a recursive :func:`_scan` over the
    distinct scores (``bounds`` is its range), joined back by hash —
    |distinct scores| may scale with the input. With ``bounded_scores``
    the caller declares the score domain bounded (calendar days, an
    enum): the prefix is then one window over the per-score relation and
    every join back broadcasts. ``tie_bounds`` is the within-score range
    (over ``tie_split``)."""
    roll = _ROLL[combiner]
    df = df.withColumn("_ts_s", score).withColumn("_ts_v", value)
    per = df.groupBy("_ts_s").agg(roll("_ts_v").alias("_ts_tot"))
    tot = None if total_name is None else "_ts_gtot"
    if bounded_scores:
        off = _offsets(per, [], "_ts_s", "_ts_tot", combiner, "_ts_off", tot)
    else:
        off = _scan(per, [], F.col("_ts_s"), F.col("_ts_tot"), (), combiner,
                    buckets=buckets, name="_ts_off", total_name=tot,
                    bounds=bounds)
        if combiner == "sum":  # inclusive → exclusive
            off = off.withColumn("_ts_off", F.col("_ts_off") - F.col("_ts_tot"))
        off = off.select("_ts_s", "_ts_off", *([tot] if tot else []))
    within = _scan(df, ["_ts_s"], tie_split, F.col("_ts_v"), tiebreaks,
                   combiner, buckets=buckets, name="_ts_win",
                   bounds=tie_bounds, hint=bounded_scores)
    out = _group_join(within, off, ["_ts_s"], bounded_scores).withColumn(
        name, _merge(combiner, F.col("_ts_off"), F.col("_ts_win")))
    if total_name is not None:
        out = out.withColumn(total_name, F.col(tot))
    return out.drop("_ts_s", "_ts_v", "_ts_off", "_ts_win", "_ts_gtot")


def global_sort_index(
    df: DataFrame,
    hash_col: Column,
    *tiebreaks: Column,
    prefix_chars: int = 2,
    name: str = "pos",
) -> DataFrame:
    """Add a 1-based global rank column ``name`` ordering by
    ``(hash_col, *tiebreaks)``, where ``hash_col`` is a lowercase/upper
    hex string (e.g. ``F.md5(...)``). ``tiebreaks`` must make the full
    ordering unique for the rank to be well-defined.

    Bucket id = int(first ``prefix_chars`` hex chars): a monotone
    function of the key giving 16^prefix_chars ordered, statistically
    balanced buckets with no sampling pass. ``prefix_chars=2`` → 256
    buckets; raise it when executor count or skew demands (3 → 4096).
    The offsets window runs on a single partition but over only
    16^prefix_chars rows.
    """
    staged = df.withColumn("_gsi_h", hash_col).withColumn(
        "_gsi_bucket",
        F.conv(F.substring(F.col("_gsi_h"), 1, prefix_chars), 16, 10)
        .cast("long"),
    )
    counts = staged.groupBy("_gsi_bucket").agg(F.count("*").alias("_gsi_cnt"))
    w_off = (
        Window.orderBy("_gsi_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_gsi_bucket",
        F.coalesce(F.sum("_gsi_cnt").over(w_off), F.lit(0).cast("long"))
        .alias("_gsi_offset"),
    )
    w_loc = Window.partitionBy("_gsi_bucket").orderBy(
        F.col("_gsi_h"), *tiebreaks
    )
    return (
        staged.join(F.broadcast(offsets), "_gsi_bucket")
        .withColumn(name, F.col("_gsi_offset") + F.row_number().over(w_loc))
        .drop("_gsi_bucket", "_gsi_h", "_gsi_offset")
    )


def distributed_rank(
    df: DataFrame,
    score: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "pos",
    total_name: str | None = None,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY score, *tiebreaks)`` without
    a single-partition sort, for an arbitrary numeric-monotone key.

    ``score`` must be numeric and monotone in the desired leading sort
    order (cast dates to days, decimals to double — exact order only
    matters *between* buckets; within a bucket the full
    ``(score, *tiebreaks)`` ordering decides). NULL scores sort first.
    All ties share one bucket by construction (rank cannot be salted),
    so a heavily skewed score concentrates work; feed a (near-)unique
    score. ``total_name`` adds the overall row count to every row — the
    denominator :func:`distributed_ntile` needs. ``bounds``: see
    :func:`_scan`.
    """
    return _scan(df, [], score, None, tiebreaks, "count", buckets=buckets,
                 name=name, total_name=total_name, bounds=bounds)


def ntile_from_rank(pos: Column, total: Column, k: int) -> Column:
    """SQL ``ntile(k)`` computed arithmetically from a global 1-based
    rank and the total row count: the first ``total mod k`` tiles hold
    ``ceil(total/k)`` rows, the rest ``floor(total/k)`` — identical to
    the window function, but expressible on top of
    :func:`distributed_rank` with no global-sort window at all."""
    q = (total / k).cast("long")        # floor tile size
    r = total - q * k                   # number of oversized tiles
    big = r * (q + 1)                   # rows covered by oversized tiles
    return F.when(
        pos <= big, ((pos + q) / (q + 1)).cast("long")
    ).otherwise(r + ((pos - big + q - 1) / q).cast("long"))


def distributed_ntile(
    df: DataFrame,
    score: Column,
    *tiebreaks: Column,
    k: int,
    buckets: int = 256,
    name: str = "tile",
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY score, *tiebreaks)`` via
    :func:`distributed_rank` — the scale-safe replacement for a global
    ntile window (which funnels the whole relation through one task)."""
    ranked = distributed_rank(
        df, score, *tiebreaks, buckets=buckets,
        name="_nt_pos", total_name="_nt_total",
    )
    return ranked.withColumn(
        name, ntile_from_rank(F.col("_nt_pos"), F.col("_nt_total"), k)
    ).drop("_nt_pos", "_nt_total")


def distributed_prefix_max(
    df: DataFrame,
    score: Column,
    value: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "prefix_max",
    tie_split: Column | None = None,
    bounds: DataFrame | None = None,
    tie_bounds: DataFrame | None = None,
    bounded_scores: bool = False,
) -> DataFrame:
    """EXCLUSIVE global running ``MAX(value) OVER (ORDER BY score,
    *tiebreaks ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``
    without a single-partition sort (skyline/Pareto frontier scans).
    ``name`` is NULL for the global first row, exactly like the window.

    **Point mass** (``scripts/skew_stress.py point_mass``): a score
    value carrying most rows stays in one bucket, one task. Collapse to
    one row per score first where the semantics allow, or pass
    ``tie_split`` as on :func:`distributed_prefix_sum` (MAX decomposes
    the same way; see :func:`_tie_split`)."""
    if tie_split is not None:
        return _tie_split(df, score, value, tiebreaks, tie_split, "max",
                          buckets=buckets, name=name, total_name=None,
                          bounds=bounds, tie_bounds=tie_bounds,
                          bounded_scores=bounded_scores)
    return _scan(df, [], score, value, tiebreaks, "max", buckets=buckets,
                 name=name, bounds=bounds)


def distributed_prefix_sum(
    df: DataFrame,
    score: Column,
    value: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "prefix",
    total_name: str | None = None,
    tie_split: Column | None = None,
    bounds: DataFrame | None = None,
    tie_bounds: DataFrame | None = None,
    bounded_scores: bool = False,
) -> DataFrame:
    """Global running ``SUM(value) OVER (ORDER BY score, *tiebreaks
    ROWS UNBOUNDED PRECEDING)`` without a single-partition sort
    (cumulative revenue share, ABC classification, Lorenz/Gini curves).
    NULL scores sort first. ``value`` should be an integer/decimal
    column (exact under reordering); a raw double would make the prefix
    partition-order-dependent. ``total_name`` adds the overall sum.

    **Point-mass scores**: buckets divide the score DOMAIN, so a score
    value carrying most rows lands in one bucket and its window runs on
    one task (super-linear in ``scripts/skew_stress.py point_mass``).
    For such distributions pass ``tie_split`` — a numeric-monotone
    column (typically the row id) refining the ordering to ``(score,
    tie_split, *tiebreaks)``; see :func:`_tie_split` for the
    decomposition and ``bounded_scores`` / ``tie_bounds``."""
    if tie_split is not None:
        return _tie_split(df, score, value, tiebreaks, tie_split, "sum",
                          buckets=buckets, name=name, total_name=total_name,
                          bounds=bounds, tie_bounds=tie_bounds,
                          bounded_scores=bounded_scores)
    return _scan(df, [], score, value, tiebreaks, "sum", buckets=buckets,
                 name=name, total_name=total_name, bounds=bounds)


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    score: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "pos",
    total_name: str | None = None,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group_cols ORDER BY score,
    *tiebreaks)`` with BOUNDED window groups, for a low-cardinality
    partition key (a status flag, a language, a label) whose naive
    window group is corpus/|groups| rows in one task. Each group's
    ``(min, max)`` maps its scores onto ``buckets`` ranges; the rank
    window partitions by ``(group, bucket)``. ``total_name`` adds each
    group's row count. The per-group range and offsets relations are
    broadcast (|groups| and ≤ |groups| × ``buckets`` rows). ``bounds``
    replaces the per-group ranges with one global range (see
    :func:`_scan`).

    Buckets divide the SCORE domain, so a single score value carrying a
    large share of a group stays in one bucket: pass a (near-)unique
    score, or put the tie-splitting column INTO the score, as
    ``train_codebooks_exact`` does with ``cvec[0]`` + full-array
    tiebreak."""
    return _scan(df, group_cols, score, None, tiebreaks, "count",
                 buckets=buckets, name=name, total_name=total_name,
                 bounds=bounds)


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    score: Column,
    value: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "prefix",
    total_name: str | None = None,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Per-group running ``SUM(value) OVER (PARTITION BY group_cols
    ORDER BY score, *tiebreaks ROWS UNBOUNDED PRECEDING)`` with BOUNDED
    window groups — the value-cumulative companion of
    :func:`grouped_rank` (sequence packing, per-stream byte offsets,
    per-segment Lorenz curves). INCLUSIVE of the current row; subtract
    ``value`` for the exclusive form. ``value`` should be
    integer/decimal. ``total_name`` adds each group's sum. Same heavy-tie
    caveat as :func:`grouped_rank`."""
    return _scan(df, group_cols, score, value, tiebreaks, "sum",
                 buckets=buckets, name=name, total_name=total_name,
                 bounds=bounds)


def grouped_prefix_max(
    df: DataFrame,
    group_cols: list[str],
    score: Column,
    value: Column,
    *tiebreaks: Column,
    buckets: int = 256,
    name: str = "prefix_max",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """EXCLUSIVE per-group running ``MAX(value) OVER (PARTITION BY
    group_cols ORDER BY score, *tiebreaks ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` with BOUNDED window groups (``name`` is
    NULL for each group's first row, exactly like the window). MAX is
    commutative and idempotent, so splitting a tie group across buckets
    by any order-preserving sub-key is exact."""
    return _scan(df, group_cols, score, value, tiebreaks, "max",
                 buckets=buckets, name=name, bounds=bounds)
