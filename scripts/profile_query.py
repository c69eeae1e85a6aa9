"""Per-query profile of registry queries: plan-build and execution time
plus the engine counters Spark's status API reports for them.

Usage: python scripts/profile_query.py [query ...]

With no names it runs every ``bench=True`` registry query. Inputs are
read from ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 directory named in
``TESTDATA.md``); the session's UI is switched on here, because the
counters come from its REST API.

Each query runs ``WARMUP`` unmeasured and ``PASSES`` measured times,
each time inside an ``op`` span with ``plans.build`` and ``query.exec``
children (the spans perfbench's ``analytics_queries`` opens), executing
into the ``noop`` sink. Every span has its own job group, so jobs a
builder runs are billed to ``plans.build``. The fastest measured pass
is printed as one JSON line: ``build_s``, ``exec_s``, ``build_jobs``, the
pass's ``jobs``, ``stages``, ``tasks``, ``task_cpu_s``, shuffle and spill
bytes, and ``parallelism`` (summed task run time over the pass's wall).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.gen import fixture_dir  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WARMUP = 1
PASSES = 2
COUNTS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes")


def profile(spark, tracer: Tracer, name: str, builder, sf_dir: str) -> dict:
    passes = []
    for _ in range(WARMUP + PASSES):
        with tracer.span("op", query=name) as op:
            with tracer.span("plans.build", query=name) as build:
                df = builder(spark, sf_dir)
            with tracer.span("query.exec", query=name) as exe:
                df.write.mode("overwrite").format("noop").save()
        passes.append((op, build, exe))
    # Bills every retained job, so earlier queries' spans are billed
    # again; only this query's spans, billed here for the first time,
    # are read.
    tracer.collect_engine()
    op, build, exe = min(passes[WARMUP:], key=lambda p: p[0].dur)
    total = tracer.totals(op)
    return {"query": name, "build_s": round(build.dur, 4),
            "exec_s": round(exe.dur, 4),
            "build_jobs": int(tracer.totals(build).get("jobs", 0)),
            **{key: int(total.get(key, 0)) for key in COUNTS},
            "task_cpu_s": round(total.get("task_cpu_s", 0), 4),
            "parallelism": round(total.get("task_run_s", 0) / op.dur, 3)}


def main(names: list[str]) -> None:
    os.environ["SPARK_GRAFT_UI"] = "true"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or fixture_dir(ROOT, "0.1")
    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
    from data_eng_taxi_ibis_dagster_spark.session import get_session

    specs = all_specs()
    names = names or sorted(n for n, s in specs.items() if s.bench)
    spark = get_session(app_name="profile-query")
    tracer = Tracer(enabled=True)
    tracer.bind(spark)
    for name in names:
        print(json.dumps(profile(spark, tracer, name, specs[name].builder, sf_dir)),
              flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
