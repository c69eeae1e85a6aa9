"""Seeded input generators. The same seed writes byte-identical files.

Inputs derive from the repository's fixture tables (TESTDATA.md); the
program under test only ever sees the generated files.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Monthly file directories of the trips glob, as the reference's
#: ``yellow_tripdata_2023-*.parquet`` layout.
MONTHS = tuple(f"2023-{m:02d}" for m in range(1, 13))


def fixture_dir(repo_root: str, scale: str) -> str:
    """The fixture directory for ``scale`` (``"0.1"``, ``"0.01"``, ...).

    ``SPARK_GRAFT_FIXTURES`` (a directory holding ``sf<scale>/``) wins;
    otherwise the location is read from the scale table in the
    repository's ``TESTDATA.md``.
    """
    root = os.environ.get("SPARK_GRAFT_FIXTURES")
    if root:
        return os.path.join(root, f"sf{scale}")
    with open(os.path.join(repo_root, "TESTDATA.md"), encoding="utf-8") as f:
        for line in f:
            m = re.match(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", line)
            if m:
                return m.group(1).rstrip("/")
    raise FileNotFoundError(f"TESTDATA.md names no fixture directory for sf{scale}")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def trips_glob(src_dir: str, dst_dir: str, seed: int, copies: int) -> str:
    """Resample ``copies`` × the fixture lineitem rows (with replacement,
    seeded), order them by ship date and split them into twelve monthly
    files ``<dst_dir>/2023-MM/lineitem.parquet``.

    Returns the glob ``sf_dir`` for which ``{sf_dir}/lineitem.parquet``
    names all twelve files, the shape ``taxi_pipeline_definitions`` reads.
    """
    base = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, base.num_rows, size=copies * base.num_rows)
    sample = base.take(pa.array(idx))
    order = pc.sort_indices(sample, sort_keys=[("l_shipdate", "ascending"),
                                                       ("l_orderkey", "ascending"),
                                                       ("l_linenumber", "ascending")])
    sample = sample.take(order)
    bounds = np.linspace(0, sample.num_rows, len(MONTHS) + 1).astype(int)
    for month, lo, hi in zip(MONTHS, bounds[:-1], bounds[1:]):
        _write(sample.slice(lo, hi - lo), os.path.join(dst_dir, month, "lineitem.parquet"))
    return os.path.join(dst_dir, "2023-*")


def permuted_corpus(src_dir: str, dst_dir: str, seed: int) -> str:
    """Copy ``documents`` and ``embeddings`` with their row order
    permuted by ``seed``; returns the new ``sf_dir``."""
    rng = np.random.default_rng(seed)
    for name in ("documents", "embeddings"):
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        perm = rng.permutation(table.num_rows)
        _write(table.take(pa.array(perm)), os.path.join(dst_dir, f"{name}.parquet"))
    return dst_dir

