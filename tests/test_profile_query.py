"""``scripts/profile_query.py`` run as a user runs it: from a directory
outside the repository, which is absent from ``PYTHONPATH``, so the
script itself must make the package importable to the driver (the
session does so for Spark's Python workers)."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A relational query, a Python data source, a query whose Python
#: workers call package code (``mapInArrow``) and one whose builder runs
#: Spark jobs (codebook training).
QUERIES = ("flagship_avg_price", "pysource_telemetry_rollup", "map_in_arrow_stats",
           "similarity_pq_topk")


def test_profile_query_outside_repo(tmp_path, sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_DRIVER_MEMORY="1g")
    path = [p for p in env.pop("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.realpath(p) != os.path.realpath(ROOT)]
    if path:
        env["PYTHONPATH"] = os.pathsep.join(path)
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "profile_query.py"), *QUERIES],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-4000:]
    records = [json.loads(line) for line in out.stdout.splitlines()]
    assert [r["query"] for r in records] == list(QUERIES)
    for r in records:
        assert r["tasks"] > 0 and r["parallelism"] > 0, r
        assert r["build_s"] > 0 and r["exec_s"] > 0, r
    by_name = {r["query"]: r for r in records}
    assert by_name["similarity_pq_topk"]["build_jobs"] > 0
    assert by_name["similarity_pq_topk"]["jobs"] > by_name["similarity_pq_topk"]["build_jobs"]
