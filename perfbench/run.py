#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout. Each run works in its own scratch
directory under ``.perfbench_work/`` (inputs, exports, Spark local and
temp dirs, warehouse), which is deleted when the run ends. Spark runs on
``local[<cores of this process>]``. The last line of output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics. The
line before it is an ``info`` record with the run's wall times and host
load markers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_eng_taxi_ibis_dagster_spark"
#: Hard ceiling on one run, below the 180 s a run may take.
RUN_LIMIT_S = 170.0

sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.worker import per_layer_names  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: The end-to-end metrics as ``BENCHMARK.json`` declares them: unit,
#: which direction is better, and the bound. Both are CPU seconds of the
#: benchmark's process tree, which neighbours on a shared host inflate far
#: less than wall time; even so a fixed loop's CPU time drifts by about
#: 15% there, so each bound is 0.25, the largest allowed.
END_TO_END = {
    "setup_s": {"unit": "s", "better": "lower", "bound": 0.25},
    "op_cpu_s": {"unit": "s", "better": "lower", "bound": 0.25},
}


def host_sample() -> dict[str, float]:
    """Load average and the cumulative steal/total CPU ticks."""
    with open("/proc/loadavg", encoding="ascii") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "steal": ticks[7] if len(ticks) > 7 else 0, "total": sum(ticks)}


def worker_env(work: str, trace: bool) -> dict[str, str]:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = [f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        conf += ["--conf spark.ui.retainedJobs=100000",
                 "--conf spark.ui.retainedStages=100000"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_DRIVER_MEMORY": "3g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYSPARK_SUBMIT_ARGS": " ".join(conf + ["pyspark-shell"]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # Spark's Python workers import the package too.
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_worker(args, work: str, deadline: float, spans_out: str | None) -> dict:
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--repo-root", ROOT, "--work-dir", work]
    if spans_out:
        cmd += ["--spans-out", os.path.abspath(spans_out)]
    proc = subprocess.Popen(cmd, cwd=work, env=worker_env(work, bool(args.trace)),
                            stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop_group(proc)
        raise RuntimeError("worker exceeded the run's time limit") from None
    stop_group(proc)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    return json.loads(lines[-1])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans (JSON lines) here")
    args = ap.parse_args(argv)
    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"no {PKG} package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    runs_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(runs_root, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    host0 = host_sample()
    try:
        result = run_worker(args, work, start + RUN_LIMIT_S, args.spans_out)
    except (RuntimeError, OSError, ValueError) as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(runs_root) and not os.listdir(runs_root):
            os.rmdir(runs_root)
    host1 = host_sample()
    info, line = summarize(result, bool(args.trace), host0, host1)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(line))
    return 0


def summarize(result: dict, trace: bool, host0: dict, host1: dict) -> tuple[dict, dict]:
    """The run's info record and its result line from the worker's result."""
    latencies = result["latencies"]
    attempted, failed = result["attempted"], result["failed"]
    ticks = host1["total"] - host0["total"]
    tail = stats.highest_tail(latencies)
    info = {
        "workload": result["workload"], "seed": result["seed"],
        "samples": len(latencies),
        "fail_frac": failed / attempted if attempted else 1.0,
        "tail": {"percentile": tail[0], "value_s": tail[1]} if tail else None,
        "op_p50_s": statistics.median(latencies),
        "ops_per_s": len(latencies) / result["window_s"],
        "setup_wall_s": result["session_s"] + result["warmup_s"],
        "op_cpu_p50_s": statistics.median(result["op_cpu_s"]),
        "session_s": result["session_s"], "warmup_s": result["warmup_s"],
        "session_cpu_s": result["session_cpu_s"], "warmup_cpu_s": result["warmup_cpu_s"],
        "prep_s": result["prep_s"],
        "load1": [host0["load1"], host1["load1"]],
        "steal_frac": (host1["steal"] - host0["steal"]) / ticks if ticks else 0.0,
        "problems": result["problems"][:10],
    }
    if trace:
        info["spans"] = result["spans"]
        info["unattributed_engine"] = result["unattributed_engine"]
        metrics = {k: {"value": result["per_layer"][k], "unit": per_layer_unit(k)}
                   for k in per_layer_names()}
    else:
        e2e = {"setup_s": result["setup_cpu_s"],
               "op_cpu_s": statistics.fmean(result["op_cpu_s"])}
        metrics = {k: {"value": v, "unit": END_TO_END[k]["unit"]} for k, v in e2e.items()}
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name in ("sinks.write_amp", "engine.parallelism"):
        return "ratio"
    if name == "sinks.rows_written":
        return "rows"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
