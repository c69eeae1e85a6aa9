"""Plan shape: the physical plan as a count of node kinds.

:func:`physical_plan` is the one place the package reads a DataFrame's
physical-plan string; :func:`plan_shape` turns that string into a count
per node kind — shuffle exchanges per partitioning, broadcasts and
reuses, each join strategy, windows, file scans and Python-eval nodes.
The counts are the plan featurization of cost models that reason per
plan node ("Efficient Deep Learning Pipelines for Accurate Cost
Estimations Over Large Scale Query Workload", SIGMOD 2021), used here
as a regression tripwire: ``tests/plan_shapes.json`` pins the shape of
every registered query, so a lost broadcast, a new exchange or a
sort-merge/broadcast flip is a one-line diff, and host load cannot
move it.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

#: Python evaluation nodes (Python and pandas UDFs, UDTFs,
#: applyInPandas, mapInPandas, arrow UDFs): the JVM→Python boundary.
PY_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF", "FlatMapGroupsInPandas", "MapInPandas",
    "PythonMapInArrow", "AggregateInPandas",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsInArrow",
)

#: Node kinds counted by name; the shuffle ``Exchange`` is counted per
#: partitioning instead (``Exchange.hash`` / ``.range`` / ``.single`` /
#: ``.roundrobin``).
NODES = frozenset((
    "BroadcastExchange", "ReusedExchange", "SortMergeJoin",
    "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct", "Window", "WindowGroupLimit", "FileScan",
) + PY_NODES)

# tree-drawing prefix, an optional whole-stage-codegen tag "*(3) ", the
# node name, then the first word of its arguments (matches every line)
_NODE = re.compile(r"[\s:|+\-]*(?:\*\(\d+\)\s+)?(\w*)\s*(\w*)")


def physical_plan(df: DataFrame) -> str:
    """The physical plan string of ``df``. An adaptive plan that has
    run prints its final plan and then its ``== Initial Plan ==``; only
    the final section is returned."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.split("== Initial Plan ==")[0]


def plan_shape(plan: str) -> dict[str, int]:
    """Count of each node kind in a :func:`physical_plan` string. Only
    kinds present are keys; a missing kind reads 0."""
    shape: Counter = Counter()
    for node, arg in (_NODE.match(line).groups() for line in plan.splitlines()):
        if node == "Exchange":
            # hashpartitioning, rangepartitioning, SinglePartition,
            # RoundRobinPartitioning -> hash, range, single, roundrobin
            shape["Exchange." + re.sub("partition(ing)?$", "", arg.lower())] += 1
        elif node in NODES:
            shape[node] += 1
    return shape
