#!/usr/bin/env python
"""Write the plan-shape ledger ``tests/plan_shapes.json``.

Usage:
    python scripts/plan_shapes.py

Builds every registered query once, on the test suite's fixture
directory and session settings (``tests/conftest.py``), and writes its
:func:`~data_eng_taxi_ibis_dagster_spark.plans.shape.plan_shape` — one
query per line, so a reviewed change of shape is a one-line diff.
``tests/test_plan_shapes.py`` compares the ledger with the plans the
suite builds anyway. Rerun after a change that is meant to alter a
plan, and review the diff before committing it.
"""

import json
import os
import sys

TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
sys.path[:0] = [TESTS, os.path.dirname(TESTS)]

from conftest import TEST_SF_DIR  # noqa: E402

from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs  # noqa: E402
from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan, plan_shape  # noqa: E402
from data_eng_taxi_ibis_dagster_spark.session import get_session  # noqa: E402

if __name__ == "__main__":
    spark = get_session(app_name="plan_shapes", shuffle_partitions=8)
    specs = all_specs()
    lines = []
    for name in sorted(specs):
        shape = plan_shape(physical_plan(specs[name].builder(spark, TEST_SF_DIR)))
        lines.append(f"  {json.dumps(name)}: {json.dumps(dict(sorted(shape.items())))}")
    with open(os.path.join(TESTS, "plan_shapes.json"), "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {len(lines)} query shapes")
