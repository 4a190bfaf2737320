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
import threading

from pyspark.sql import DataFrame, SparkSession

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


# --- session state ------------------------------------------------------------
#
# The one owner of everything a plan keeps beyond its own build: memos
# shared between queries (``memo``) and persisted or checkpointed
# frames a returned plan still reads (``hold``). Both live until
# ``clear_session_memos()``, which releases them all; a frame built
# before a clear must not be executed after it. Memo keys carry the
# application id, so a stopped session's entries are never served to
# a new one.

_LOCK = threading.Lock()
_MEMOS: dict[tuple, object] = {}
_HELD: list[DataFrame] = []


def _release(df: DataFrame) -> None:
    """Drop a frame's cache entry and, for a ``localCheckpoint``, its
    blocks: ``DataFrame.unpersist()`` leaves those, because they
    belong to the checkpointed RDD under the frame's logical plan.
    The non-blocking unpersist drops the RDD from the persisted set at
    once."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


def memo(key: tuple, build):
    """The value ``build()`` returns for ``key``, built at most once
    per clear and shared by every later caller. ``build`` runs outside
    the lock (it usually fires Spark jobs); two threads that miss
    together both build, the first insert wins and the loser releases
    its own build. A DataFrame value is released on clear. A plain
    value is only dropped, so any frame it refers to must be
    ``hold``-ed by ``build`` (a losing build's held frames then wait
    for the next clear)."""
    hit = _MEMOS.get(key)
    if hit is not None:
        return hit
    value = build()
    with _LOCK:
        won = _MEMOS.setdefault(key, value)
    if won is not value and isinstance(value, DataFrame):
        _release(value)
    return won


def hold(df: DataFrame) -> DataFrame:
    """Register a persisted or ``localCheckpoint``-ed frame that a
    returned plan still reads; it lives until the next clear."""
    with _LOCK:
        _HELD.append(df)
    return df


def clear_session_memos() -> None:
    """Release every memo and held frame of the session.

    A memoized query's re-run (bench's min-of-two) must measure the
    plan, not the memo, and a scheduled session must not grow with
    every tick. Unpersisting matters as much as forgetting: Spark's
    cache manager matches by analyzed plan, so a rebuilt identical
    plan would silently reuse the old materialized partitions."""
    with _LOCK:
        values = [*_MEMOS.values(), *_HELD]
        _MEMOS.clear()
        _HELD.clear()
    for v in values:
        if isinstance(v, DataFrame):
            _release(v)
