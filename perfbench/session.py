"""Spark session sized from the box, isolated inside the checkout.

Everything the run writes (Spark local dirs, Python temp files, the
package zip shipped to UDF workers, the event log) lands under one work
directory that the caller removes when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_DIR = os.path.join(REPO, "geomesa_spark")


def program_present() -> bool:
    return os.path.isfile(os.path.join(PROGRAM_DIR, "__init__.py"))


def box_profile() -> dict:
    """CPU count (affinity-aware) and memory in MiB from /proc/meminfo."""
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            info[key] = int(rest.split()[0]) // 1024
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": info["MemTotal"],
            "mem_available_mb": info["MemAvailable"]}


def driver_heap_mb(mem_available_mb: int) -> int:
    """A sixth of the free memory, between 1 and 3 GiB: the inputs are
    small, and the machine is shared with other processes."""
    return max(1024, min(3072, mem_available_mb // 6))


def code_version() -> str:
    """The git commit if the checkout is a repository, else a content
    hash of the program sources (benchmark checkouts carry no .git)."""
    head = os.path.join(REPO, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_file = os.path.join(REPO, ".git", ref[5:])
            if os.path.isfile(ref_file):
                with open(ref_file) as f:
                    return f.read().strip()
        elif ref:
            return ref
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(PROGRAM_DIR)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def isolate(work: str) -> None:
    """Point every temp-file user of this process and its children at
    ``work``: Python's tempfile (the UDF package zip), the JVM's
    java.io.tmpdir and Spark's local dirs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    path = os.environ.get("PYTHONPATH", "")
    if REPO not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def build_session(work: str, box: dict, *, event_log_dir: str | None = None):
    """local[nproc] with one driver thread submitting jobs. With
    ``event_log_dir`` the session also writes an uncompressed event log
    and runs the perf UDF profiler (the traced configuration)."""
    from pyspark.sql import SparkSession

    nproc = box["nproc"]
    tmp = os.path.join(work, "tmp")
    # no hsperfdata file: the JVM would write it under /tmp, outside the run
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:ParallelGCThreads={nproc} "
                 "-XX:-UsePerfData")
    b = (SparkSession.builder.master(f"local[{nproc}]")
         .appName("perfbench")
         .config("spark.driver.memory",
                 f"{driver_heap_mb(box['mem_available_mb'])}m")
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * nproc))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.pyspark.udf.profiler", "perf"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from geomesa_spark.shipping import ship_package
    ship_package(spark)
    return spark
