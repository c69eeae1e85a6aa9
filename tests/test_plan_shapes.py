"""Plan-shape ledger: every registered query's physical plan, counted
per node kind (``plans/shape.plan_shape``), must match
``tests/plan_shapes.json``. A lost broadcast, a new exchange or a
sort-merge/broadcast flip fails here as a one-line diff, whatever the
host load. The shapes come from the pre-execution plan strings the
session's ``plan_cache`` captures for the plan lint, so the ledger
costs no plan build of its own.

A change that is meant to alter a plan regenerates the ledger with
``python scripts/plan_shapes.py``; the diff is part of its review.
"""

import json
import os

import pytest

from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
from data_eng_taxi_ibis_dagster_spark.plans.shape import plan_shape

with open(os.path.join(os.path.dirname(__file__), "plan_shapes.json")) as fh:
    LEDGER = json.load(fh)


def test_ledger_covers_the_registry():
    assert sorted(LEDGER) == sorted(all_specs()), (
        "registered queries and ledger entries differ; rerun "
        "scripts/plan_shapes.py")


@pytest.mark.parametrize("name", sorted(LEDGER))
def test_plan_shape(spark, name, plan_cache):
    want = dict(LEDGER[name])
    # operators/dedup._right_size fans a scan out with a round-robin
    # exchange iff ``0 < n_files < defaultParallelism``. Every fixture
    # table is one file, so with one slot it is a no-op and the
    # ledger's round-robin exchanges are absent; nothing else in a
    # plan's shape depends on the core count.
    if spark.sparkContext.defaultParallelism <= 1:
        want.pop("Exchange.roundrobin", None)
    assert plan_shape(plan_cache.plan(name)) == want
