"""Spark session sized for the machine the benchmark runs on.

The engine's `get_spark` defaults to a 24 g driver; the benchmark passes
its own master and memory instead (`local[nproc]`, a 1 g driver heap) and
keeps every file Spark, the JVM and Python write inside the benchmark's
work directory. `PYTHONPATH` is set
before the JVM starts so Python workers import the engine package from
the checkout whatever the working directory.
"""

from __future__ import annotations

import os
import subprocess


#: driver heap: ample for the benchmark's corpora, and small enough that
#: every run fills it, so peak RSS does not depend on when the JVM
#: happens to grow its heap
DRIVER_MEMORY = "1g"


def start_spark(root: str, work: str, *, trace: bool):
    """Start a local[nproc] session whose scratch lives under `work`."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_CPUS", None)

    from newssearchengine_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep per-job/stage status for the whole run (StatusTracker)
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark(app_name="perfbench", master=f"local[{ncpu}]",
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
