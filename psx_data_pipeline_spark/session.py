"""SparkSession factory.

Local testing runs on local[N] (one JVM). The SQL configs below are
the ones that also matter on a 1000-executor cluster: AQE (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for
any Python exchange, UTC session time zone (required for
deterministic oracle comparison — DuckDB timestamps are UTC-naive),
and shuffle partitions sized to the parallelism actually available
rather than the legacy 200 default.

The two JVM options (``DRIVER_JAVA_OPTIONS``) apply to the driver JVM
only: the one PySpark launches, which in local mode also runs the
tasks. On a cluster spark-submit owns the executor JVMs. They exist
because the engine runs as short-lived sessions (one per scheduled
tick, test run or benchmark run), and in a cold sf0.1 pipeline tick
on a 4-core x86 host the C1/C2 compiler threads, counting those the
JVM started on demand and retired, used about 59 % of the JVM's CPU
(about 41 of 71 s). The throughput collector drops G1's concurrent
threads, and ``CICompilerCount=2`` (one C1 and one C2 thread, the
tiered minimum) stops the JVM from adding compiler threads on demand.
They go in ``spark.driver.defaultJavaOptions`` rather than
``extraJavaOptions``: a caller's ``--driver-java-options`` (for
example through ``PYSPARK_SUBMIT_ARGS``) replaces
``extraJavaOptions``, while the default options are prepended to it,
so both sets reach the JVM. A ``spark.driver.defaultJavaOptions`` set
in ``spark-defaults.conf`` is overridden by this one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_JAVA_OPTIONS = "-XX:+UseParallelGC -XX:CICompilerCount=2"


def get_spark(app_name: str = "psx_data_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to ``local[*]``. On a real cluster the master/memory
    settings come from spark-submit and these builder calls are
    harmless no-ops.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Harmless for the current timestamp[µs] fixtures; kept so a
        # flip back to TIMESTAMP(NANOS) parquet (the rounds-1-2
        # physical type) surfaces as int64 ns — which the type-adaptive
        # ts_us seam (sources/fixtures.ts_us_expr) handles — instead of
        # a read error. Set once here, never mutated per call.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("PSX_SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
