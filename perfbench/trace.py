"""Traced run and event-log roll-up.

After the untraced loop, the run stops its SparkContext and starts a
traced one in the same JVM: an uncompressed event log plus the perf UDF
profiler. It runs the same loop again, then rolls the event log up by job
group (one group per operation) into the per-layer metrics, joined with
the benchmark's own layer spans. Tracing overhead is the traced pass time
minus the untraced one.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from perfbench import session
from perfbench.harness import Tracer, median, run_loop, self_time

# scan-node metrics (driver-side accumulator updates in the event log)
SCAN_METRICS = {"number of files read": "files_read",
                "number of partitions read": "partitions_read",
                "size of files read": "bytes_read"}
# Python-evaluation node metrics (PythonSQLMetrics)
PYTHON_METRICS = {"time to run Python workers": "python_run",
                  "time to start Python workers": "python_start",
                  "time to initialize Python workers": "python_start",
                  "data sent to Python workers": "bytes_to_python",
                  "data returned from Python workers": "bytes_from_python"}
LOST_ACCUMULATOR = "non-existent accumulator"

# per-layer metric -> unit; the order is the order printed
PER_LAYER = {
    "sources.open_s": "s",
    "sources.listing_jobs": "count",
    "sources.partitions_read": "count",
    "sources.files_read": "count",
    "sources.bytes_read": "bytes",
    "sources.rows_read_per_row_out": "ratio",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "plans.plan_s": "s",
    "cells.cover_s": "s",
    "cells.cover_cells": "count",
    "operators.build_s": "s",
    "operators.jobs_before_action": "count",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.lost_accumulator_errors": "count",
    "kernels.python_run_s": "s",
    "kernels.python_start_s": "s",
    "kernels.bytes_to_python": "bytes",
    "kernels.bytes_from_python": "bytes",
    "kernels.rows_from_python_per_row_out": "ratio",
    "kernels.udf_self_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


# ------------------------------------------------------------ event log

def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name, metric type)."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"],
                                   m.get("metricType", "sum"))
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _scale(metric_type: str, value: float) -> float:
    """SQL timing metrics are ms ("timing") or ns ("nsTiming")."""
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return value


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def rollup(paths: list[str]) -> dict[str, dict]:
    """Event log files -> per job group totals: jobs, stages, tasks, task
    time, CPU, GC, shuffle, spill, failed tasks, scan and Python-node
    metrics, and the submission time (epoch ms) of each job."""
    acc_info: dict[int, tuple] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_times: dict[str, list] = defaultdict(list)
    driver_updates: list[tuple[int, list]] = []
    task_updates: list[tuple[str, int, float]] = []
    for ev in _events(paths):
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], acc_info)
        elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith(
                "DriverAccumUpdates"):
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id", "")
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = g
            for sid in ev["Stage IDs"]:
                stage_group[sid] = g
            groups[g]["jobs"] += 1
            job_times[g].append(ev["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            g = stage_group.get(si["Stage ID"], "")
            if "Completion Time" in si:
                groups[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "")
            t = groups[g]
            t["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                t["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in a:
                    task_updates.append((g, a["ID"], a["Update"]))
    for g, acc_id, upd in task_updates:
        _add_sql_metric(groups[g], acc_info.get(acc_id), upd)
    for exec_id, updates in driver_updates:
        g = exec_group.get(exec_id, "")
        for acc_id, upd in updates:
            _add_sql_metric(groups[g], acc_info.get(acc_id), upd)
    out = {g: dict(v) for g, v in groups.items()}
    for g, ts in job_times.items():
        out.setdefault(g, {})["job_submit_ms"] = ts
    return out


def _add_sql_metric(t: dict, info, upd) -> None:
    if info is None:
        return
    node, name, mtype = info
    try:
        value = float(upd)
    except (TypeError, ValueError):
        return
    if node.startswith("Scan") and name in SCAN_METRICS:
        t[SCAN_METRICS[name]] += value
    elif node.startswith("Scan") and name == "number of output rows":
        t["scan_rows"] += value
    elif name in PYTHON_METRICS:
        t[PYTHON_METRICS[name]] += _scale(mtype, value)
    elif "Python" in node or "Pandas" in node or "Arrow" in node:
        if name == "number of output rows":
            t["python_rows_out"] += value


# ------------------------------------------------------------- profiler

def udf_self_times(spark) -> dict[str, float]:
    """Profiled self time per UDF, named by the Python function with the
    largest cumulative time inside it."""
    try:
        results = spark.profile.profiler_collector._perf_profile_results
    except AttributeError:  # the profiler API moved
        return {}
    out = {}
    for udf_id, st in results.items():
        best, best_ct = f"udf{udf_id}", -1.0
        for (fname, _line, func), (_cc, _nc, _tt, ct, _c) in st.stats.items():
            if fname != "~" and ct > best_ct:
                best, best_ct = f"{os.path.basename(fname)}:{func}", ct
        out[best] = out.get(best, 0.0) + st.total_tt
    return out


# ------------------------------------------------------------ traced run

def _in_spans(ts_ms: list, spans: list[dict]) -> int:
    return sum(1 for t in ts_ms for s in spans
               if s["w0"] * 1e3 <= t <= s["w1"] * 1e3)


def traced_run(wl, spark, box: dict, work: str, log: str,
               untraced_pass_s: float, setup: dict) -> dict:
    """Re-run one pass of the workload under tracing and return the
    per-layer metrics, their detail, and the operation records.
    ``untraced_pass_s`` should be an untraced pass made after the first
    one, so both passes run on a JIT-warm JVM; the traced context starts
    its own Python workers, which kernels.python_start_s shows."""
    spark.stop()
    elog = os.path.join(work, "eventlog")
    spark = session.build_session(work, box, event_log_dir=elog)
    wl.prepare(spark)
    tracer = Tracer()
    records, passes = run_loop(spark, tracer, wl.op_list, wl.params, 0.0,
                               first_pass=1000, first_seq=100000)
    udfs = udf_self_times(spark)
    spark.stop()
    files = sorted(p for p in glob.glob(os.path.join(elog, "**", "*"),
                                        recursive=True) if os.path.isfile(p))
    roll = rollup(files)
    n_pass = max(1, len(passes))

    def per_pass(key: str) -> float:
        return sum(roll.get(r.group, {}).get(key, 0.0)
                   for r in records) / n_pass

    def span_sum(name: str, attr: str | None = None) -> float:
        spans = [s for s in tracer.spans if s["name"] == name]
        if attr:
            return sum(s.get(attr, 0) for s in spans) / n_pass
        return sum(s["t1"] - s["t0"] for s in spans) / n_pass

    open_jobs = build_jobs = 0
    for r in records:
        kids = tracer.children(r.span_id)
        ts = roll.get(r.group, {}).get("job_submit_ms", [])
        open_jobs += _in_spans(ts, [k for k in kids if k["name"] == "open"])
        build_jobs += _in_spans(ts, [k for k in kids
                                     if k["name"] in ("plan", "cover",
                                                      "build")])
    rows_out = sum(r.rows_out for r in records) or 1
    with open(log, errors="replace") as f:
        lost = sum(line.count(LOST_ACCUMULATOR) for line in f)
    traced_pass = median(passes)
    v = {
        "sources.open_s": span_sum("open"),
        "sources.listing_jobs": open_jobs / n_pass,
        "sources.partitions_read": per_pass("partitions_read"),
        "sources.files_read": per_pass("files_read"),
        "sources.bytes_read": per_pass("bytes_read"),
        "sources.rows_read_per_row_out":
            per_pass("scan_rows") * n_pass / rows_out,
        "sources.write_s": setup["write_s"],
        "sources.files_written": setup["files"],
        "sources.bytes_written": setup["bytes"],
        "plans.plan_s": span_sum("plan"),
        "cells.cover_s": span_sum("cover"),
        "cells.cover_cells": span_sum("cover", "cells"),
        "operators.build_s": span_sum("build"),
        "operators.jobs_before_action": build_jobs / n_pass,
        "spark.action_s": span_sum("action"),
        "spark.jobs": per_pass("jobs"),
        "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "spark.task_run_s": per_pass("task_run_s"),
        "spark.task_cpu_s": per_pass("task_cpu_s"),
        "spark.gc_s": per_pass("gc_s"),
        "spark.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "spark.spill_bytes": per_pass("spill_bytes"),
        "spark.failed_tasks": per_pass("failed_tasks"),
        "spark.lost_accumulator_errors": lost,
        "kernels.python_run_s": per_pass("python_run"),
        "kernels.python_start_s": per_pass("python_start"),
        "kernels.bytes_to_python": per_pass("bytes_to_python"),
        "kernels.bytes_from_python": per_pass("bytes_from_python"),
        "kernels.rows_from_python_per_row_out":
            per_pass("python_rows_out") * n_pass / rows_out,
        "kernels.udf_self_s": sum(udfs.values()) / n_pass,
        "trace.pass_s": traced_pass,
        "trace.overhead_s": traced_pass - untraced_pass_s,
    }
    per_op = {}
    for op in wl.op_list:
        recs = [r for r in records if r.op == op.name]
        per_op[op.name] = {
            "wall_s": median([r.wall_s for r in recs]),
            "self_s": median([self_time(tracer, tracer.spans[r.span_id])
                              for r in recs]),
            **{k: sum(roll.get(r.group, {}).get(k, 0.0) for r in recs)
               / max(1, len(recs))
               for k in ("jobs", "tasks", "task_cpu_s", "python_run",
                         "files_read", "partitions_read")}}
    return {"metrics": {k: (v[k], u) for k, u in PER_LAYER.items()},
            "detail": {"per_op": per_op, "udf_self_s": udfs,
                       "passes": passes, "event_log_groups": len(roll),
                       "spans": tracer.spans},
            "records": records}
