"""The driver JVM that ``get_spark`` launches runs the throughput
collector and a two-thread JIT pool, and a caller's own
``--driver-java-options`` do not displace those flags."""

from __future__ import annotations

import json
import os
import subprocess
import sys

PARALLEL_GC = ["PS MarkSweep", "PS Scavenge"]
FLAGS = ["-XX:+UseParallelGC", "-XX:CICompilerCount=2"]


def _jvm_facts(spark) -> tuple[list[str], list[str]]:
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = sorted(b.getName() for b in mf.getGarbageCollectorMXBeans())
    return gcs, list(mf.getRuntimeMXBean().getInputArguments())


def test_session_runs_parallel_gc_and_capped_compiler_pool(spark):
    gcs, args = _jvm_facts(spark)
    assert gcs == PARALLEL_GC
    assert all(f in args for f in FLAGS), args


_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from psx_data_pipeline_spark.session import get_spark
sys.path.insert(0, sys.argv[2])
from test_session_jvm import _jvm_facts
spark = get_spark("jvm-probe", shuffle_partitions=1)
gcs, args = _jvm_facts(spark)
print("JVMFACTS " + json.dumps({"gcs": gcs, "args": args}), flush=True)
spark.stop()
"""


def test_caller_driver_java_options_keep_session_flags(tmp_path):
    """``--driver-java-options`` replaces ``extraJavaOptions``; the
    session's flags must survive it alongside the caller's property."""
    tests = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ,
               PYSPARK_SUBMIT_ARGS="--driver-java-options -Dpsx.probe=1 pyspark-shell",
               SPARK_GRAFT_CPUS="1", PSX_SPARK_DRIVER_MEM="512m")
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, os.path.dirname(tests), tests],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    facts = [line for line in res.stdout.splitlines() if line.startswith("JVMFACTS ")]
    assert facts, res.stderr[-2000:]
    got = json.loads(facts[-1][len("JVMFACTS "):])
    assert "-Dpsx.probe=1" in got["args"]
    assert all(f in got["args"] for f in FLAGS), got["args"]
    assert got["gcs"] == PARALLEL_GC
