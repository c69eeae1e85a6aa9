"""The portable-query registry.

The reference's signature property is one logical query rendered on
multiple engines with provably identical results (Ibis on DuckDB +
PySpark; ``/root/reference/taxi_pipeline.py:89-147``, README "run
identical analytics on both backends"). This registry rebuilds that
property Spark-first: every query is a :class:`QuerySpec` pairing

* ``builder`` — the PySpark DataFrame plan, ``(spark, sf_dir) → DataFrame``
* ``oracle``  — the equivalent ANSI SQL executed by DuckDB over the same
  parquet (None for non-SQL-expressible ops → rows-only check)

``bench=True`` marks the queries ``scripts/profile_query.py`` profiles
when it is given no query names.

Column names are part of the contract: every computed column is aliased
identically in both renderings (the harness sorts columns by name before
hashing values).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    bench: bool = False
    doc: str = field(default="")


def query(name: str, *, oracle: str | None = None,
          tags: tuple[str, ...] = (), bench: bool = False) -> Callable[[Builder], Builder]:
    """Register a named query. Use as a decorator on the builder."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tuple(tags),
            bench=bench, doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def _load_all() -> None:
    # Import side-effect-registers every query module exactly once.
    from data_eng_taxi_ibis_dagster_spark.plans import (  # noqa: F401
        audits,
        analytics,
        relational,
        llm,
        streaming_batch,
        llm2,
        advanced,
        aggregates,
        scalars,
        scalars2,
        llm3,
        llm4,
        llm5,
        llm6,
        llm7,
        llm8,
        llm9,
        llm10,
        llm11,
        llm12,
        semantics,
        tpch,
        windows2,
        llm13,
        llm14,
        runtime_filters,
        llm15,
        analytics2,
        maintenance,
        stats,
        llm16,
        llm17,
        llm18,
        llm19,
        llm20,
        llm21,
    )


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


def queries() -> dict[str, Builder]:
    """Driver contract: name → (spark, sf_dir) → DataFrame."""
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """Driver contract: name → ANSI SQL (only oracle-able queries)."""
    return {name: spec.oracle for name, spec in all_specs().items()
            if spec.oracle is not None}
