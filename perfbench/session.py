"""Spark session set-up for the benchmark: local[nproc], every temporary
directory inside the run's work directory, optional uncompressed
non-rolling event log for the traced run."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _warm(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    import tetrex_spark.functions.text  # noqa: F401

    yield from batches


def start(work: str, *, event_log_dir: str | None = None) -> SparkSession:
    """A fresh SparkContext on the process's JVM (launched on first use),
    with the Python worker pool warmed on every slot."""
    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", f"{work}/hadoop-tmp")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(n * 4, numPartitions=n).mapInPandas(_warm, "id long").count()
    return spark
