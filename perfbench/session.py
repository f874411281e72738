"""Spark session and scratch directories for one benchmark run.

Everything a run writes lives under ``<checkout>/.perfbench/``: the
generated corpus, the job output, Spark's local dirs, the JVM and
Python temp dirs, the event log and the written trace.
"""

from __future__ import annotations

import os
import shutil
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(SCRATCH, "results")


def slots() -> int:
    """Task slots: one less than the cores this process may use, at most
    4. The spare core runs the driver JVM's own threads (GC, JIT,
    scheduler) and the Python driver; on a 4-core VM, 3 slots measured
    no slower than 4 and far less sensitive to hypervisor steal."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def make_run_dir(tag: str) -> str:
    """A fresh directory for one run; also points TMPDIR, Python's
    tempfile and Spark's local dirs inside it."""
    run_dir = os.path.join(SCRATCH, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # no hsperfdata file in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    os.makedirs(RESULTS, exist_ok=True)
    return run_dir


def start_spark(run_dir: str, event_log: bool):
    """A local session sized for a 4-core, 15 GB host: ``slots()`` task
    slots and a fixed 2 GB driver heap, touched at start. Left to itself
    the collector commits and touches a different share of the heap in
    every run (the driver JVM's RSS spread 1.0-1.6 GB between seeds of
    one workload), which would drown any change in the program's own
    memory; so the JVM part of the RSS is a constant and the heap that
    Spark's operators use is reported from the event log instead. The
    event log (Spark's own stage and task metrics) is only kept for
    traced runs."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{slots()}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(4 * slots()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(run_dir, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
