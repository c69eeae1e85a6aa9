"""One benchmark process: start the session, warm up, measure, check.

Started by ``perfbench/run.py`` with the environment it prepares; prints
one JSON line with the raw results as its last line of output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

# Before pyspark is imported: the process's own start is the zero of set-up.
T0 = time.perf_counter()

from perfbench.trace import ENGINE_FIELDS, Tracer, process_tree_cpu_s  # noqa: E402
from perfbench.workloads import CURATION_ASSETS, TAXI_ASSETS, WORKLOADS  # noqa: E402

#: Asset spans that carry a named operator's whole cost, row count included.
OPERATOR_ASSETS = {"dedup.near_dup_s": "drop_near_dups",
                   "similarity.semdedup_s": "semantic_dedup",
                   "pq.index_s": "vector_index"}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order the traced run prints them."""
    return (["session.start_s", "session.warmup_s",
             "sinks.write_s", "sinks.jobs", "sinks.bytes_written",
             "sinks.rows_written", "sinks.write_amp"]
            + [f"pipeline.asset.{a}_s" for a in TAXI_ASSETS + CURATION_ASSETS]
            + ["pipeline.asset_fn_s", "pipeline.unbilled_s", "pipeline.jobs",
               "pipeline.residual_s",
               "plans.build_s", "plans.build_jobs", "query.exec_s",
               "order.exec_s", "order.shuffle_bytes", "order.stages"]
            + list(OPERATOR_ASSETS)
            + ["arrow.to_pandas_s"]
            + [f"engine.{f}" for f in ENGINE_FIELDS]
            + ["engine.parallelism", "engine.proc_cpu_s",
               "oracle.check_s", "oracle.mismatches", "trace.op_p50_s",
               "trace.op_cpu_s"])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repo-root", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--spans-out")
    args = ap.parse_args(argv)

    prep_cpu0, prep_start = process_tree_cpu_s(os.getpid()), time.perf_counter()
    workload = WORKLOADS[args.workload](args.repo_root, args.work_dir, args.seed)
    prep_s = time.perf_counter() - prep_start
    prep_cpu_s = process_tree_cpu_s(os.getpid()) - prep_cpu0

    tracer = Tracer(bool(args.trace))
    from data_eng_taxi_ibis_dagster_spark.plans.registry import all_specs
    from data_eng_taxi_ibis_dagster_spark.session import get_session

    all_specs()  # import every plan module before the tracer wraps them
    tracer.install()
    with tracer.span("session.get_session"):
        spark = get_session(app_name=f"perfbench-{args.workload}")
    tracer.bind(spark)
    # Set-up starts at process start but excludes input generation.
    session_s = time.perf_counter() - T0 - prep_s
    session_cpu_s = process_tree_cpu_s(os.getpid()) - prep_cpu_s

    with tracer.span("warmup"):
        warmup_s, warmup_cpu_s, problems, attempted = workload.warmup(spark, tracer)

    cpu0 = process_tree_cpu_s(os.getpid())
    window_start = time.perf_counter()
    ops = workload.run(spark, tracer, args.seconds)
    window_s = time.perf_counter() - window_start - workload.check_s
    cpu_s = process_tree_cpu_s(os.getpid()) - cpu0

    attempted += len(ops)
    failed = sum(1 for op in ops if op.problems) + len(problems)
    problems += [p for op in ops for p in op.problems]
    latencies = [op.seconds for op in ops]

    result = {
        "workload": args.workload, "seed": args.seed,
        "prep_s": prep_s, "session_s": session_s, "warmup_s": warmup_s,
        "session_cpu_s": session_cpu_s, "warmup_cpu_s": warmup_cpu_s,
        "setup_cpu_s": session_cpu_s + warmup_cpu_s,
        "window_s": window_s, "latencies": latencies,
        "op_cpu_s": [op.cpu_s for op in ops], "proc_cpu_s": cpu_s,
        "attempted": attempted, "failed": failed, "problems": problems[:20],
    }
    if args.trace:
        tracer.unpatch()
        orphan = tracer.collect_engine()
        result["per_layer"] = per_layer(tracer, workload, result)
        result["unattributed_engine"] = orphan
        result["spans"] = tracer.summary()
        if args.spans_out:
            tracer.dump(args.spans_out)
    spark.stop()
    print(json.dumps(result))
    return 0


def per_layer(tracer: Tracer, workload, result: dict) -> dict[str, float]:
    """Per-layer metrics of the traced run, per measured op."""
    spans = tracer.spans
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)

    def under(root):
        todo = list(kids.get(root.sid, ()))
        while todo:
            sp = todo.pop()
            yield sp
            todo.extend(kids.get(sp.sid, ()))

    ops = [sp for sp in spans if sp.name == "op" and sp.attrs.get("phase") == "measure"]
    n = max(1, len(ops))
    m: dict[str, float] = {k: 0.0 for k in per_layer_names()}
    wall = sum(op.dur for op in ops)
    engine = {f: 0.0 for f in ENGINE_FIELDS}
    for op in ops:
        for key, val in tracer.totals(op).items():
            engine[key] += val
        uses_order = op.attrs.get("uses_order", False)
        for sp in under(op):
            name = sp.name
            if name.startswith("sinks."):
                m["sinks.write_s"] += sp.dur
                m["sinks.jobs"] += tracer.totals(sp).get("jobs", 0)
            elif name.startswith("pipeline.asset:"):
                m[f"pipeline.asset.{name.split(':', 1)[1]}_s"] += sp.dur
                m["pipeline.asset_fn_s"] += sp.dur
            elif name == "pipeline.materialize":
                m["pipeline.unbilled_s"] += sp.dur - sum(
                    c.dur for c in kids.get(sp.sid, ()) if c.name.startswith("pipeline.asset:"))
                m["pipeline.jobs"] += tracer.totals(sp).get("jobs", 0)
                m["pipeline.residual_s"] -= sp.dur
            elif name == "plans.build":
                m["plans.build_s"] += sp.dur
                m["plans.build_jobs"] += tracer.totals(sp).get("jobs", 0)
            elif name == "query.exec":
                m["query.exec_s"] += sp.dur
                if uses_order:
                    m["order.exec_s"] += sp.dur
            elif name == "arrow.to_pandas" and sp.parent == op.sid:
                m["arrow.to_pandas_s"] += sp.dur
                m["pipeline.residual_s"] -= sp.dur
        for metric, asset in OPERATOR_ASSETS.items():
            m[metric] += sum(sp.dur for sp in under(op)
                             if sp.name in (f"pipeline.asset:{asset}", f"pipeline.count:{asset}"))
        if uses_order:
            totals = tracer.totals(op)
            m["order.shuffle_bytes"] += totals.get("shuffle_write_bytes", 0)
            m["order.stages"] += totals.get("stages", 0)
        if any(sp.name == "pipeline.materialize" for sp in kids.get(op.sid, ())):
            m["pipeline.residual_s"] += op.dur
    for key in list(m):
        m[key] /= n
    for key, val in engine.items():
        m[f"engine.{key}"] = val / n
    m["engine.parallelism"] = engine["task_run_s"] / wall if wall else 0.0
    m["engine.proc_cpu_s"] = result["proc_cpu_s"] / n
    m["sinks.bytes_written"] = workload.written_bytes / n
    m["sinks.rows_written"] = workload.written_rows / n
    m["sinks.write_amp"] = workload.written_bytes / n / workload.input_bytes
    m["session.start_s"] = result["session_s"]
    m["session.warmup_s"] = result["warmup_s"]
    by_id = {sp.sid: sp for sp in spans}

    def in_checks(sp) -> bool:
        while sp.parent is not None:
            sp = by_id[sp.parent]
            if sp.name == "checks":
                return True
        return False

    m["oracle.check_s"] = sum(
        sp.dur for sp in spans
        if sp.name == "checks"
        or (sp.name in ("oracle.run_oracle", "oracle.compare_frames") and not in_checks(sp)))
    m["oracle.mismatches"] = len(result["problems"])
    m["trace.op_p50_s"] = statistics.median(result["latencies"])
    m["trace.op_cpu_s"] = statistics.fmean(result["op_cpu_s"])
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
