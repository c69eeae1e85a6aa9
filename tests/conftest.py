import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from data_eng_taxi_ibis_dagster_spark.session import get_session

#: Scale-factor directory used by unit tests (override for deeper runs).
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def plan_cache(spark, sf_dir):
    """name → built DataFrame at TEST_SF_DIR, built once per session.

    Three registry-wide sweeps (parity, plan lint, the analyze
    tripwire) each used to rebuild every registered plan; for the
    expensive builders (eager Lloyd/CC jobs, wide SRP/PQ analysis)
    that tripled seconds-per-query of pure build cost. DataFrames are
    immutable plan handles, so sharing one build per (name, dir) is
    sound; builders with persisted-artifact side effects simply reuse
    the artifact their one build wrote. The miss path holds a per-name
    lock, so concurrent seeding from the threaded analyze sweep builds
    each name exactly once even if two threads ever race on the same
    name (a double build of a side-effectful plan could LRU-evict the
    temp dir the first cached plan still reads).

    The physical-plan STRING is captured at build time, before any
    consumer executes the DataFrame: parity (file-ordered first) runs
    toPandas on the cached frames, after which their AQE roots print
    the isFinalPlan=true runtime plan — the lint's assertions are
    written against the INITIAL plan, so it must read the
    pre-execution capture (``plan_cache.plan(name)``), not the
    frame's current state."""
    import threading

    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
    from data_eng_taxi_ibis_dagster_spark.plans.shape import physical_plan

    cache = {}
    locks: dict = {}
    locks_guard = threading.Lock()

    def get(name: str):
        if name not in cache:
            with locks_guard:
                lock = locks.setdefault(name, threading.Lock())
            with lock:
                if name not in cache:
                    df = all_specs()[name].builder(spark, sf_dir)
                    cache[name] = (df, physical_plan(df))
        return cache[name][0]

    def get_plan(name: str) -> str:
        get(name)
        return cache[name][1]

    get.plan = get_plan
    return get
