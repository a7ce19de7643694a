"""One benchmark run: stage inputs, set up, warm up, run the closed loop,
and (traced) re-run a pass with Spark's event log and the UDF profiler
on. Returns the result object run.py prints."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

from perfbench import harness, session, workloads
from perfbench.harness import RssSampler, Tracer, median, run_loop

RECORDS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "records")


@contextmanager
def jvm_output_to(path: str):
    """Point fds 1 and 2 at ``path`` while the JVM starts, so the JVM and
    the Python workers it forks log there for the rest of the run, and
    this process's stdout keeps only the benchmark's own lines."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (*saved, fd):
            os.close(f)


def disk_bytes(paths: list[str]) -> tuple[int, int]:
    """(bytes, data files) under ``paths``, Spark's hidden files excluded."""
    total = files = 0
    for p in paths:
        for base, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for n in names:
                if not n.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(base, n))
                    files += 1
    return total, files


def shutdown(timeout: float = 30.0) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def left() -> list[int]:
        return harness.descendants(harness.proc_table(), os.getpid())

    deadline = time.time() + timeout
    while left() and time.time() < deadline:
        time.sleep(0.2)
    for pid in left():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while left() and time.time() < deadline + 5:
        time.sleep(0.1)


# ------------------------------------------------------------ the run

def _loop_summary(wl, records, passes, headline_rows) -> dict:
    walls = [r.wall_s for r in records]
    tail, pct, n = harness.tail_percentile(walls)
    by_pass: dict[int, float] = {}
    for r in records:
        if next(op for op in wl.op_list if op.name == r.op).headline:
            by_pass[r.pass_no] = by_pass.get(r.pass_no, 0.0) + r.wall_s
    return {"pass_s": median(passes), "op_p50_s": median(walls),
            "op_tail_s": tail, "op_tail_pct": pct, "op_samples": n,
            "passes": len(passes),
            "rows_per_s": median([headline_rows / v
                                  for v in by_pass.values()])}


def _steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the host gave this
    machine's CPUs to someone else, which shows up as benchmark noise."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run(args, work: str) -> dict:
    box = session.box_profile()
    session.isolate(work)
    mode = "smoke" if args.smoke else "full"
    wl = workloads.get(args.workload, mode)
    steal0 = _steal()

    t0 = time.perf_counter()
    staged_bytes = wl.stage(np.random.default_rng(args.seed),
                            _mkdir(work, "data"))
    stage_s = time.perf_counter() - t0

    log = os.path.join(work, "driver.log")
    t0 = time.perf_counter()
    with jvm_output_to(log):
        spark = session.build_session(work, box)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer()

    # Set-up builds the stored tables once (timed); one untimed warm-up
    # pass follows, so the read path's JIT and Python-worker start are paid
    # before the loop is timed.
    sc.setJobGroup("setup", "set-up")
    t0 = time.perf_counter()
    with tracer.span("setup"):
        wl.paths = wl.setup(spark, tracer, _mkdir(work, "tables"))
    setup_s = time.perf_counter() - t0
    stored_bytes, stored_files = disk_bytes(list(wl.paths.values()))
    wl.stored_files = stored_files
    wl.prepare(spark)
    wl.op_list = wl.ops()
    t0 = time.perf_counter()
    warm = [] if args.smoke else run_loop(spark, tracer, wl.op_list,
                                          wl.params, 0.0)[0]
    warmup_s = time.perf_counter() - t0
    cpu0 = harness.tree_cpu_s()
    with RssSampler() as rss:
        records, passes = run_loop(spark, tracer, wl.op_list, wl.params,
                                   args.seconds, first_pass=len(warm) > 0,
                                   first_seq=len(warm))
        rss.sample()
    cpu1 = harness.tree_cpu_s()
    steal1 = _steal()
    loop = _loop_summary(wl, records, passes, wl.headline_rows)
    all_records = warm + records
    failed = sum(not r.ok for r in all_records)

    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (loop["pass_s"], "s"),
        "pass_cpu_s": ((cpu1 - cpu0) / len(passes), "s"),
        "rows_per_s": (loop["rows_per_s"], "rows/s"),
        "stored_bytes_ratio": (stored_bytes / staged_bytes, "ratio"),
        "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
    }
    record = {
        "code_version": session.code_version(), "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "mode": mode, "box": box,
        "driver_heap_mb": session.driver_heap_mb(box["mem_available_mb"]),
        "spark_version": spark.version,
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "stage_s": stage_s, "session_start_s": session_s,
        "warmup_s": warmup_s,
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "staged_bytes": staged_bytes, "stored_bytes": stored_bytes,
        "stored_files": stored_files,
        "loop": loop, "failed_op_ratio": failed / len(all_records),
        "failures": [(r.op, r.pass_no, r.error) for r in all_records
                     if not r.ok],
        "ops": {op.name: _op_stats(records, tracer, op.name)
                for op in wl.op_list},
        "setup_writes": [(s.get("table"), s["t1"] - s["t0"])
                         for s in tracer.spans if s["name"] == "write"],
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    if args.trace:
        from perfbench import trace
        writes = sum(s["t1"] - s["t0"] for s in tracer.spans
                     if s["name"] == "write")
        layer = trace.traced_run(
            wl, spark, box, work, log, passes[-1],
            {"write_s": writes, "files": stored_files,
             "bytes": stored_bytes})
        record["per_layer"] = {k: v for k, (v, _) in
                               layer["metrics"].items()}
        record["trace_detail"] = layer["detail"]
        all_records += layer["records"]
        failed = sum(not r.ok for r in all_records)
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in layer["metrics"].items()}

    record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    _write_record(record)
    _print_summary(record, e2e)
    return {"correct": failed == 0, "attempted": len(all_records),
            "failed": failed, "metrics": metrics}


def _mkdir(*parts: str) -> str:
    path = os.path.join(*parts)
    os.makedirs(path)
    return path


def _op_stats(records, tracer: Tracer, name: str) -> dict:
    recs = [r for r in records if r.op == name]
    build, action = [], []
    for r in recs:
        kids = tracer.children(r.span_id)
        build.append(sum(k["t1"] - k["t0"] for k in kids
                         if k["name"] != "action"))
        action.append(sum(k["t1"] - k["t0"] for k in kids
                          if k["name"] == "action"))
    return {"n": len(recs), "wall_s": median([r.wall_s for r in recs]),
            "build_s": median(build), "action_s": median(action)}


def _write_record(record: dict) -> None:
    d = os.path.join(RECORDS, record["code_version"])
    os.makedirs(d, exist_ok=True)
    name = (f"{record['started'].replace(':', '')}-{record['workload']}"
            f"-s{record['seed']}-t{record['trace']}-{os.getpid()}.json")
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1, default=float)


def _print_summary(record: dict, e2e: dict) -> None:
    loop = record["loop"]
    print(f"# {record['workload']} seed={record['seed']} "
          f"version={record['code_version']} nproc={record['box']['nproc']}"
          f" passes={loop['passes']} ops={loop['op_samples']}")
    for k, (v, u) in e2e.items():
        print(f"#   {k} = {v:.6g} {u}")
    # printed, not gated: too few operations per run for a stable median
    # across operation kinds, and no percentile above it with ten samples
    # beyond it
    print(f"#   op_p50_s = {loop['op_p50_s']:.6g} s")
    print(f"#   op_tail_s = {loop['op_tail_s']:.6g} s (p{loop['op_tail_pct']:g}"
          f" of {loop['op_samples']} operations)")
    print(f"#   failed_op_ratio = {record['failed_op_ratio']:.6g}")
    for name, s in record["ops"].items():
        print(f"#   op {name}: wall {s['wall_s']:.4f} s, build "
              f"{s['build_s']:.4f} s, action {s['action_s']:.4f} s")
    for f in record["failures"][:10]:
        print(f"#   FAILED {f}")
    if "per_layer" in record:
        print("# traced run (per pass, event log + layer spans):")
        for k, v in record["per_layer"].items():
            print(f"#   {k} = {v:.6g}")
        for name, s in record["trace_detail"]["per_op"].items():
            print(f"#   op {name}: " + ", ".join(
                f"{k} {v:.4g}" for k, v in s.items()))
        top = sorted(record["trace_detail"]["udf_self_s"].items(),
                     key=lambda kv: -kv[1])[:5]
        for name, v in top:
            print(f"#   udf {name}: self {v:.4f} s")
