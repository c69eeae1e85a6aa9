"""``session.get_session`` makes the package importable to Spark's
Python workers, whatever the driver's working directory."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Finds the package only through ``sys.path``, as ``__spark_entry__.py``
#: arranges, then collects a query whose workers run package code.
SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
from data_eng_taxi_ibis_dagster_spark.session import get_session
spark = get_session(app_name="workers-import", shuffle_partitions=2)
print(len(all_specs()["map_in_arrow_stats"].builder(spark, {sf_dir!r}).collect()))
"""


def test_python_workers_import_package_outside_repo(tmp_path, sf_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, sf_dir=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert int(out.stdout.split()[-1]) > 0
