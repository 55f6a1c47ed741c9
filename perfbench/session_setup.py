"""Timed session set-up: from a process that has not imported the
engine yet until ``session.get_spark`` has returned and one fixed
warm-up query has finished."""

from __future__ import annotations

import os
import time

WARMUP_QUERY = "pricing_summary"


def session_conf(run_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    """Spark settings that keep every file the session writes inside
    the run directory; the engine's own defaults are left alone."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # plain JSON lines for spans.parse_event_log: the python
        # zstandard package, needed to read the default codec, is absent
        conf["spark.eventLog.compress"] = "false"
        # one file, not Spark 4's default rolling directory of parts
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def timed_setup(tables_dir: str, run_dir: str, event_log_dir: str | None = None):
    """Return (spark, queries, timings) after a full timed set-up."""
    t0 = time.perf_counter()
    from mapreduce_implementation_grpc_spark.registry import QUERIES
    from mapreduce_implementation_grpc_spark.session import get_spark

    spark = get_spark(extra_conf=session_conf(run_dir, event_log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    QUERIES[WARMUP_QUERY](spark, tables_dir).toPandas()
    t2 = time.perf_counter()
    return spark, QUERIES, {"start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}



def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit, so a run leaves
    no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits once its stdin closes
    gateway.proc.wait(timeout=60)
