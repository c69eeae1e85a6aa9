"""In-memory spans around calls into the program's layers, plus the
engine counters Spark's status REST API (``/api/v1``) reports per job.

Every span that can run Spark jobs gets its own job group, so each job
is billed to exactly one span. A span's engine counters are its own
jobs' plus its children's; its self time is its duration minus the
part of that interval its children cover.

Nothing here changes the program: layer functions are wrapped from
outside, by replacing module attributes for the life of the process.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import sys
import time
import urllib.request
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

PKG = "data_eng_taxi_ibis_dagster_spark"

#: Public functions of ``operators.order``; a query whose plan build
#: calls one is an order-using query.
ORDER_FUNCTIONS = ("global_sort_index", "distributed_rank", "distributed_ntile",
                   "distributed_prefix_max", "distributed_prefix_sum",
                   "grouped_rank", "grouped_prefix_sum", "grouped_prefix_max")

#: Engine counters summed per span, from the REST stage records.
ENGINE_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                 "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                 "spill_bytes")


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = dataclasses.field(default_factory=dict)
    engine: dict[str, float] = dataclasses.field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    pass-through, so the untraced run pays one branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._restore: list[tuple[object, str, object]] = []
        self._count: Span | None = None

    # -- spans ------------------------------------------------------------

    def bind(self, spark) -> None:
        """Attach the SparkContext whose job groups spans set."""
        self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"pb{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _open_span(self, name: str) -> Span:
        """A span outside the stack, closed by ``_close_span``: for work
        that runs between two wrapped calls."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._set_group(sp)
        return sp

    def _close_span(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._set_group(self._stack[-1] if self._stack else None)

    # -- wrapping layer functions from outside ----------------------------

    def wrap(self, fn: Callable, name: str,
             on_result: Callable[[Span, Any], None] | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result)
                return result
        return traced

    def patch(self, module, attr: str, name: str,
              on_result: Callable[[Span, Any], None] | None = None) -> None:
        """Replace ``module.attr`` and every already-imported alias of it
        in the program's modules with a traced wrapper."""
        orig = getattr(module, attr)
        traced = self.wrap(orig, name, on_result)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG):
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._restore.append((mod, key, val))
                        setattr(mod, key, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)
        self._restore.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(orig, name))

    def install(self) -> None:
        """Wrap the program's layer boundaries. Call after the query
        registry has imported every plan module."""
        if not self.enabled:
            return
        from pyspark.sql.pandas.conversion import PandasConversionMixin

        from data_eng_taxi_ibis_dagster_spark import oracle, pipeline
        from data_eng_taxi_ibis_dagster_spark.operators import order, pq
        from data_eng_taxi_ibis_dagster_spark.sources import sinks

        materialize = pipeline.Definitions.materialize

        def traced_materialize(defs, spark, selection=None):
            with self.span("pipeline.materialize"):
                try:
                    return materialize(defs, spark, selection)
                finally:
                    self._close_count()

        self._restore.append((pipeline.Definitions, "materialize", materialize))
        pipeline.Definitions.materialize = traced_materialize
        self.patch(sinks, "export_parquet", "sinks.export_parquet")
        self.patch(sinks, "write_clustered", "sinks.write_clustered")
        self.patch(pq, "write_ivfpq_index", "sinks.write_ivfpq_index")
        for fn in ORDER_FUNCTIONS:
            self.patch(order, fn, f"order.{fn}", on_result=self._mark_order)
        for fn in ("check_query", "run_oracle", "compare_frames"):
            self.patch(oracle, fn, f"oracle.{fn}")
        self.patch_method(PandasConversionMixin, "toPandas", "arrow.to_pandas")

    def _mark_order(self, sp: Span, result: Any) -> None:
        for open_span in self._stack:
            open_span.attrs["uses_order"] = True

    def wrap_assets(self, defs) -> None:
        """Trace each asset function of ``defs``. The job group an asset
        sets stays set until the next asset starts, so the jobs of the
        row count ``materialize`` runs after the function are billed to
        a ``pipeline.count:<asset>`` span."""
        if not self.enabled:
            return
        for name, asset in list(defs.assets.items()):
            defs.assets[name] = dataclasses.replace(asset, fn=self._asset_fn(name, asset.fn))

    def _asset_fn(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(spark, *deps):
            self._close_count()
            with self.span(f"pipeline.asset:{name}"):
                value = fn(spark, *deps)
            self._count = self._open_span(f"pipeline.count:{name}")
            return value
        return traced

    def _close_count(self) -> None:
        if self._count is not None:
            self._close_span(self._count)
            self._count = None

    def unpatch(self) -> None:
        for owner, key, val in reversed(self._restore):
            setattr(owner, key, val)
        self._restore.clear()

    # -- engine counters -----------------------------------------------------

    def collect_engine(self, timeout_s: float = 30.0) -> dict[str, float]:
        """Bill every job the REST API reports to the span whose job
        group ran it. Returns the counters of jobs no span claimed."""
        if not self.enabled or self._sc is None:
            return {}
        jobs, stages = _fetch_status(self._sc, timeout_s)
        by_id = {sp.sid: sp for sp in self.spans}
        orphan: dict[str, float] = defaultdict(float)
        for job in jobs:
            group = job.get("jobGroup") or ""
            sp = by_id.get(int(group[2:])) if group.startswith("pb") and group[2:].isdigit() else None
            target = sp.engine if sp is not None else orphan
            target["jobs"] = target.get("jobs", 0) + 1
            for sid in job.get("stageIds", ()):
                for key, val in stages.get(sid, {}).items():
                    target[key] = target.get(key, 0) + val
        return dict(orphan)

    def totals(self, sp: Span) -> dict[str, float]:
        """Engine counters of ``sp`` and all its descendants."""
        kids = self._children()
        out: dict[str, float] = defaultdict(float)
        todo = [sp]
        while todo:
            cur = todo.pop()
            for key, val in cur.engine.items():
                out[key] += val
            todo.extend(kids.get(cur.sid, ()))
        return dict(out)

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        return kids

    def self_time(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        covered = 0.0
        edge = sp.start
        for lo, hi in sorted((c.start, c.end) for c in self._children().get(sp.sid, ())):
            lo, hi = max(lo, edge), min(hi, sp.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return sp.dur - covered

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds, engine totals."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            row = out.setdefault(sp.name, defaultdict(float))
            row["n"] += 1
            row["total_s"] += sp.dur
            row["self_s"] += self.self_time(sp)
            for key, val in sp.engine.items():
                row[f"self.{key}"] += val
        return {k: {f: round(v, 6) for f, v in row.items()} for k, row in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "sid": sp.sid, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), "attrs": sp.attrs,
                    "engine": sp.engine}, default=str) + "\n")


def _fetch_status(sc, timeout_s: float) -> tuple[list[dict], dict[int, dict[str, float]]]:
    """All jobs, and per-stage counters summed over attempts, once no
    job is still running (the status store lags the actions slightly)."""
    port = sc.uiWebUrl.rsplit(":", 1)[1].rstrip("/")
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str) -> Any:
        with urllib.request.urlopen(base + path, timeout=timeout_s) as resp:
            return json.load(resp)

    deadline = time.monotonic() + timeout_s
    while True:
        jobs = get("/jobs")
        if all(j.get("status") != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stages: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for st in get("/stages"):
        if st.get("status") == "SKIPPED":
            continue
        row = stages[st["stageId"]]
        row["stages"] += 1
        row["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        row["task_run_s"] += st.get("executorRunTime", 0) / 1e3
        row["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        row["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        row["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        row["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        row["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
    return jobs, stages


def process_tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its live
    descendants, including children they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children[int(fields[1])].append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / tick
