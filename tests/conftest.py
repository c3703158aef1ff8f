from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_spark_streaming_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# share of the host's memory given to the test JVM's heap; the rest
# covers the JVM's off-heap memory (metaspace, code cache, RocksDB state
# stores, network buffers) and the Python UDF workers
HEAP_SHARE = 0.5


def _host_heap() -> str | None:
    """Driver heap sized from ``MemTotal`` in /proc/meminfo, or None
    where that file does not exist."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(int(line.split()[1]) * HEAP_SHARE) // 1024}m"
    except OSError:
        pass
    return None


# session.get_spark defaults the heap to 48g, more than many hosts have:
# a JVM that grows past the host's memory is killed by the kernel, and
# every test still running then fails.  An explicit SPARK_DRIVER_MEMORY
# still wins.
_heap = _host_heap()
if _heap is not None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _heap)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn()`` runs, read
    from the status tracker under a job group of its own once the
    listener bus has delivered every event."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
