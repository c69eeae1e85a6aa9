"""The benchmark's own tests. They start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, stats
from perfbench.run import END_TO_END, per_layer_unit, summarize
from perfbench.trace import Span, Tracer
from perfbench.worker import per_layer_names
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture()
def fixtures(tmp_path):
    """A tiny stand-in for the fixture tables the generators read."""
    rng = np.random.default_rng(0)
    n = 500
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 7, n), pa.int32()),
        "l_extendedprice": rng.uniform(1000, 90000, n),
        "l_quantity": rng.integers(1, 50, n).astype(float),
        "l_shipdate": pa.array(rng.integers(0, 10**12, n), pa.timestamp("ms")),
    }), tmp_path / "lineitem.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(40), pa.int64()),
                             "text": [f"doc {i}" for i in range(40)]}),
                   tmp_path / "documents.parquet")
    pq.write_table(pa.table({"vec_id": pa.array(range(40), pa.int64()),
                             "embedding": [[float(i)] * 4 for i in range(40)]}),
                   tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_trips_glob_is_deterministic_per_seed(fixtures, tmp_path):
    outs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        sf = gen.trips_glob(fixtures, str(tmp_path / tag), seed, copies=2)
        assert sf.endswith("2023-*")
        outs[tag] = _digest(str(tmp_path / tag))
    assert outs["a"] == outs["b"]
    assert outs["a"] != outs["c"]
    months = sorted(os.listdir(tmp_path / "a"))
    assert months == list(gen.MONTHS)
    rows = sum(pq.read_metadata(tmp_path / "a" / m / "lineitem.parquet").num_rows
               for m in months)
    assert rows == 2 * 500


def test_permuted_corpus_is_deterministic_per_seed(fixtures, tmp_path):
    digests = [_digest(gen.permuted_corpus(fixtures, str(tmp_path / str(i)), seed))
               for i, seed in enumerate((3, 3, 4))]
    assert digests[0] == digests[1] != digests[2]
    docs = pq.read_table(tmp_path / "0" / "documents.parquet")
    assert sorted(docs.column("doc_id").to_pylist()) == list(range(40))


def test_fixture_dir_reads_the_testdata_table(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FIXTURES", raising=False)
    assert gen.fixture_dir(ROOT, "0.1").endswith("sf0.1")
    assert gen.fixture_dir(ROOT, "0.01").endswith("sf0.01")
    monkeypatch.setenv("SPARK_GRAFT_FIXTURES", "/data")
    assert gen.fixture_dir(ROOT, "0.1") == os.path.join("/data", "sf0.1")


def test_percentile_refuses_a_tail_with_fewer_than_ten_beyond():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0] * 26, 90)
    assert stats.highest_tail([1.0] * 26) is None
    assert stats.highest_tail(list(range(1, 101)))[0] == 90
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 30.0]
    assert stats.iqr_share(xs) == pytest.approx((21.5 - 10.5) / 12.0)


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m.pop("name"): m for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert all(m["unit"] == per_layer_unit(m["name"]) for m in spec["per_layer"])


def _result(trace: bool) -> dict:
    res = {"workload": "analytics_queries", "seed": 1, "latencies": [0.5, 0.7, 0.6],
           "window_s": 2.0, "attempted": 5, "failed": 0, "problems": [],
           "session_s": 3.0, "warmup_s": 1.0, "prep_s": 0.1,
           "session_cpu_s": 5.0, "warmup_cpu_s": 2.5, "setup_cpu_s": 7.5,
           "op_cpu_s": [1.0, 2.0, 1.5], "proc_cpu_s": 4.6}
    if trace:
        res.update(per_layer={k: 1.0 for k in per_layer_names()}, spans={},
                   unattributed_engine={})
    return res


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    host = {"load1": 1.0, "steal": 0, "total": 100}
    info, line = summarize(_result(trace), trace, host, {**host, "total": 200})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    names = per_layer_names() if trace else list(END_TO_END)
    assert list(line["metrics"]) == names
    for name, metric in line["metrics"].items():
        assert set(metric) == {"value", "unit"}
        assert metric["unit"] == (per_layer_unit(name) if trace else END_TO_END[name]["unit"])
    if not trace:
        assert line["metrics"]["setup_s"]["value"] == 7.5
        assert line["metrics"]["op_cpu_s"]["value"] == 1.5
    assert info["op_p50_s"] == 0.6 and info["ops_per_s"] == 1.5
    assert info["fail_frac"] == 0.0 and info["samples"] == 3


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    tr.spans = [Span(0, "op", None, 0.0, 10.0),
                Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 3.0, 5.0),
                Span(3, "c", 1, 1.5, 2.0)]
    assert tr.self_time(tr.spans[0]) == pytest.approx(6.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.5)
    tr.spans[1].engine = {"jobs": 2}
    tr.spans[3].engine = {"jobs": 1}
    assert tr.totals(tr.spans[0]) == {"jobs": 3}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []
