"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configs below are the ones that
matter at cluster scale too (AQE, skew handling, broadcast sizing,
Arrow for the few pandas paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "nucliadb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Small dims (region/nation/supplier, term-stats, IVF centroids)
        # should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for the pandas_udf model-stub paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in the adapter (tpch.events) to µs timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: driver heap IS the executor heap — size it for
        # the persisted serving indexes (the box has 128 GiB; an 8g
        # heap GC-thrashes once postings+vectors are cached)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every wrapped
        # pyspark.sql.functions call for analysis error messages: extra
        # py4j round trips per call (active session, a conf read,
        # origin set and clear) plus an IPython import probe, paid on
        # every plan build
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
