"""Sinks: table materialization and parquet export.

Reference operators (SURVEY.md §2a):
  K1  CTAS / full-refresh table materialization —
      ``taxi_pipeline_native.py:42-46`` (DuckDB ``CREATE TABLE … AS``)
  K2  parquet export, overwrite semantics —
      ``taxi_pipeline_native.py:67-69`` (``COPY … TO`` one file)

The reference's single-file export is a local-pipeline quirk; at scale a
single output file serializes the whole job through one task, so
``single_file`` defaults to False and multi-part output (one file per
partition) is the norm. Writers return basic observability facts (rows,
bytes) mirroring the reference's Loguru logging (O2): ``rows`` is the
number of rows the call wrote, counted by an ``Observation`` on the write
job itself, never by reading the output back. For the partition-replacing
writers (``overwrite_partitions``, ``merge_upsert_partitioned``) that is
the rows of the replaced partitions, not of the whole table; ``bytes`` is
the size of the whole output tree.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class WriteReport:
    path: str
    rows: int
    bytes: int


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed as ``obs.get["rows"]`` once the
    first action on the returned frame has run — no job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _write(out: DataFrame, path: str,
           partition_by: tuple[str, ...] = ()) -> WriteReport:
    """Every parquet sink's one action: write ``out`` with its row count
    observed on the write job. ``out`` is the frame exactly as handed to
    the writer: an observation below a range exchange would also count
    the rows of the exchange's bounds-sampling job."""
    out, obs = observe_rows(out)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    return WriteReport(path=path, rows=obs.get["rows"], bytes=_tree_bytes(path))


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


#: Max live scratch dirs per builder key (one query name × one sf_dir);
#: older same-key dirs are removed by the next ``scratch_dir`` call, and
#: one atexit sweep removes whatever is live at exit.
TEMP_DIR_LRU_CAP = 2
_TEMP_DIRS: dict[str, list[str]] = {}


@atexit.register
def _sweep_temp_dirs() -> None:
    for dirs in _TEMP_DIRS.values():
        for p in dirs:
            shutil.rmtree(p, ignore_errors=True)


def scratch_dir(name: str, sf_dir: str) -> str:
    """A fresh path ``<tempdir>/<name>_<tag>_<uuid>`` (``tag`` hashes
    ``sf_dir``) for the data one plan build persists (an LSH index, an
    incremental sketch rollup, ...). A fresh dir per build keeps every
    returned plan self-contained and safe against concurrent builders;
    it must outlive the lazily-read plan it backs, so it is removed at
    interpreter exit, or once TEMP_DIR_LRU_CAP newer dirs of the same
    key ``<name>_<tag>`` exist. That bounds a long-lived session that
    rebuilds plans (notebook, server, parametrized sweeps), while a
    sweep that builds many different queries before executing any of
    them evicts nothing. A holder of a plan more than TEMP_DIR_LRU_CAP
    rebuilds stale of the same query sees a missing-path read."""
    key = f"{name}_{hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]}"
    path = os.path.join(tempfile.gettempdir(), f"{key}_{uuid.uuid4().hex[:12]}")
    dirs = _TEMP_DIRS.setdefault(key, [])
    dirs.append(path)
    while len(dirs) > TEMP_DIR_LRU_CAP:
        shutil.rmtree(dirs.pop(0), ignore_errors=True)
    return path


def materialize_table(df: DataFrame, name: str, mode: str = "overwrite") -> int:
    """K1 — idempotent full-refresh materialization into the session
    catalog (parquet-backed managed table). Equivalent of the reference's
    drop-then-CTAS ingest. Returns the rows written."""
    out, obs = observe_rows(df)
    out.write.mode(mode).format("parquet").saveAsTable(name)
    return obs.get["rows"]


def export_parquet(df: DataFrame, path: str, single_file: bool = False,
                   partition_by: tuple[str, ...] = ()) -> WriteReport:
    """K2 — parquet export with overwrite semantics.

    ``single_file=True`` reproduces the reference's one-file ``COPY``
    (coalesce(1) — fine for small local outputs, wrong at scale);
    ``partition_by`` writes a hive-partitioned tree, the 100 TB shape.
    """
    return _write(df.coalesce(1) if single_file else df, path, partition_by)


def write_clustered(df: DataFrame, path: str, *, cluster_by: str,
                    partition_by: tuple[str, ...] = (),
                    files_per_partition: int = 1) -> WriteReport:
    """Layout-optimized export: range-partition on ``cluster_by`` and
    sort rows within each output file by it.

    This is the write-side half of predicate pushdown: parquet stores
    per-row-group min/max for every column, so a file sorted by a key
    has tight, non-overlapping key ranges and a later
    ``read.filter(key BETWEEN …)`` skips whole row groups / files.
    Unsorted data has every row group spanning the full key range and
    min/max pruning skips nothing — at 100 TB this is the difference
    between scanning one file and scanning them all.

    ``repartitionByRange`` samples the key to build balanced range
    bounds (one shuffle), avoiding the skew a hash layout can't fix for
    range queries; ``sortWithinPartitions`` is a shuffle-free local
    sort feeding the writer.
    """
    n_parts = max(1, files_per_partition)
    out = (
        df.repartitionByRange(n_parts, cluster_by)
        .sortWithinPartitions(cluster_by)
        if not partition_by
        else df.repartitionByRange(n_parts, *partition_by, cluster_by)
        .sortWithinPartitions(*partition_by, cluster_by)
    )
    return _write(out, path, partition_by)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: tuple[str, ...]) -> WriteReport:
    """Incremental backfill: replace ONLY the hive partitions present in
    ``df``, leaving sibling partitions untouched (dynamic partition
    overwrite). This is the idempotent-reprocess primitive of a large
    pipeline — re-running one day's extract rewrites that day's
    directory and nothing else, so a 100 TB table never needs a full
    rewrite to fix one partition. Static overwrite (Spark's default)
    would drop the whole table root first.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        return _write(df, path, partition_by)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_upsert_partitioned(spark, path: str, updates: DataFrame, *,
                             key: str | tuple[str, ...],
                             partition_by: tuple[str, ...]) -> WriteReport:
    """CDC apply / MERGE-INTO for a hive-partitioned parquet table:
    upsert ``updates`` by ``key``, rewriting ONLY the partitions the
    updates touch.

    Plain parquet has no row-level transaction log (that's what
    Delta/Iceberg add), so an upsert must rewrite files — the scale
    move is bounding the rewrite to affected partitions:

      1. the distinct touched-partition list comes from ``updates``
         (small — it's the changed data);
      2. only those partitions of the target are read back (partition
         pruning on the scan — the rest of the 100 TB is never opened);
      3. old-minus-updated (left_anti on key) ∪ updates is written with
         dynamic partition overwrite, atomically per partition.

    Rows whose key is absent from the target are inserts; present keys
    are replaced (last-write-wins). A key moving across partitions is
    handled iff its OLD partition also appears in ``updates``; true
    row-migration needs a table format with a log.
    """
    from functools import reduce
    from operator import and_

    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    if not os.path.exists(path):  # bootstrap: first load is a plain write
        return export_parquet(updates, path, partition_by=partition_by)
    parts = [r.asDict() for r in
             updates.select(*partition_by).distinct().collect()]
    if not parts:
        return WriteReport(path=path, rows=0, bytes=_tree_bytes(path))
    touched = reduce(
        lambda a, b: a | b,
        (reduce(and_, (F.col(c) == F.lit(v) for c, v in p.items()))
         for p in parts),
    )
    existing = spark.read.parquet(path).filter(touched)
    kept = existing.join(updates.select(*keys).distinct(), keys, "left_anti")
    merged = kept.unionByName(updates.select(*existing.columns))
    return overwrite_partitions(merged, path, partition_by)


def compact_parquet(spark, path: str, *, target_file_bytes: int = 128 << 20,
                    out_path: str | None = None) -> WriteReport:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` each.

    Streaming sinks and per-task writers leave thousands of small files;
    at scale, file-listing and per-file open costs dominate scans long
    before data volume does (the classic "small files problem"). The
    output file count is derived from the *actual* on-disk size — a
    metadata-only driver computation — then the data is rewritten with
    one round-robin shuffle into evenly sized files.

    In-place by default (write to a temp sibling, swap); pass
    ``out_path`` to compact into a new location instead.
    """
    src_bytes = _tree_bytes(path)
    n_files = max(1, round(src_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    in_place = out_path is None
    dest = tempfile.mkdtemp(dir=os.path.dirname(path.rstrip("/"))) \
        if in_place else out_path
    # repartition (round-robin) balances bytes across files regardless of
    # upstream partitioning; coalesce would skip the shuffle but inherits
    # upstream skew and can't *increase* partition count.
    report = _write(df.repartition(n_files), dest)
    if in_place:
        shutil.rmtree(path)
        os.rename(dest, path)
        report = replace(report, path=path)
    return report


def export_orc(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """ORC export twin of :func:`export_parquet` (interop sink).
    Returns bytes written."""
    df.write.mode(mode).orc(path)
    return _tree_bytes(path)


def export_csv(df: DataFrame, path: str, mode: str = "overwrite",
               header: bool = True) -> int:
    """CSV export (interchange with non-columnar consumers only —
    no pushdown, no types, ~5× parquet bytes). Returns bytes
    written."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)
    return _tree_bytes(path)


def _zorder_value(c1, c2, *, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative ints (Morton
    code). Pure codegen bit math — 2·bits shift/mask terms."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    def bit(c, i, pos):
        return F.shiftleft(
            F.shiftright(c, i).bitwiseAND(F.lit(1)).cast("long"), pos)

    terms = [bit(c1, i, 2 * i + 1) for i in range(bits)]
    terms += [bit(c2, i, 2 * i) for i in range(bits)]
    return reduce(add, terms)


def write_zorder(df: DataFrame, path: str, *, cols: tuple[str, str],
                 files: int = 8, bits: int = 16) -> WriteReport:
    """Z-order (Morton-curve) clustered export: scale both cluster
    columns to ``bits``-bit ranks, interleave them into one z-value,
    and range-partition + locally sort on it.

    Single-key clustering (:func:`write_clustered`) gives perfect
    min/max pruning on ONE column and none on any other; the Z-curve
    trades a little of that for locality on BOTH — each output file
    covers a small rectangle of the (a, b) space, so min/max file
    pruning works for predicates on either column (the OPTIMIZE
    ZORDER pattern). Cost at write time: one min/max aggregate per
    column (driver-side scalars) + the one range shuffle every
    clustered write needs.
    """
    from pyspark.sql import functions as F

    a, b = cols
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(a), F.max(a), F.min(b), F.max(b)).collect()[0]
    span_a = max(1, int(hi_a) - int(lo_a))
    span_b = max(1, int(hi_b) - int(lo_b))
    unit = (1 << bits) - 1
    sa = ((F.col(a) - F.lit(int(lo_a))) * unit / F.lit(span_a)).cast("long")
    sb = ((F.col(b) - F.lit(int(lo_b))) * unit / F.lit(span_b)).cast("long")
    z = df.withColumn("_z", _zorder_value(sa, sb, bits=bits))
    out = (
        z.repartitionByRange(max(1, files), "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return _write(out, path)
