"""Spark session lifecycle for the benchmark: start, ship, warm up, stop.

Every file Spark, the JVM and Python write during a run goes under the
run's work directory, so the benchmark stays inside its checkout. A run
sets up several times: the first set-up launches the JVM, later ones stop
the session and start a new one on the same JVM (session, package
shipping, warm-up). The final stop shuts the JVM down and waits for it.
"""

from __future__ import annotations

import os
import subprocess
import time
import zipfile


def _ship(spark, repo: str, work_dir: str) -> None:
    """addPyFile a zip of webcrawl_spark (the spark-submit --py-files model)."""
    pkg = os.path.join(repo, "webcrawl_spark")
    zpath = os.path.join(work_dir, "webcrawl_spark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))
    spark.sparkContext.addPyFile(zpath)


def _warm_up(spark) -> None:
    """One shuffle and one Arrow stage, so the first timed job pays neither
    JVM class loading nor Python worker start."""
    import pandas as pd

    def stage(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    spark.range(200_000).repartition(8).selectExpr("sum(id)").collect()
    spark.range(20_000).mapInPandas(stage, "n long").selectExpr("sum(n)").collect()


def start(repo: str, work_dir: str, event_log_dir: str | None = None):
    """Start a local[nproc] session over ``work_dir``; returns (spark, secs)."""
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))   # nproc
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("crawlbench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.default.parallelism", str(2 * cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _ship(spark, repo, work_dir)
    _warm_up(spark)
    return spark, time.perf_counter() - t0


def stop(spark=None, jvm: bool = True) -> None:
    """Stop ``spark`` (if any); with ``jvm`` also shut the gateway JVM down
    and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if not jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
