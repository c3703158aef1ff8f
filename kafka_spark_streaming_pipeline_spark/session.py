"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same settings are the right
defaults on a real cluster: AQE for runtime re-planning (partition
coalescing, skew-join splitting), Arrow for any pandas-UDF exchange,
UTC session timezone so results are oracle-comparable, and shuffle
partitions sized to the parallelism at hand rather than the 200
default (at 100 TB the right number is set per-job; AQE coalesces
down from a generous initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_cpus() -> int | None:
    """``$SPARK_GRAFT_CPUS`` parsed in one place for every caller: the
    core count when it is a positive integer, else None.  Unset, empty,
    non-numeric and non-positive values all mean "no override", and the
    caller falls back to ``os.cpu_count()``."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        return None
    return cpus if cpus > 0 else None


def get_spark(
    app_name: str = "kafka_spark_streaming_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``
    when that is unset or not a positive integer, see ``env_cpus``).
    """
    cpus = env_cpus()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE initialPartitionNum is deliberately NOT raised here.
        # Measured both ways (AQE_AB.json, r11): 8x initial headroom
        # cures the one partition-starved amplified-scale point (x104
        # big: 21s -> 12-19s) and helps other data-heavy shuffles, but
        # TAXES composed many-small-shuffle pipelines 1.5-3x (x146
        # detector consensus 1.4s -> 4.0-4.2s, reproducible in both
        # A/B orders) — AQE's coalescing cannot refund the per-shuffle
        # overhead of 256 map-output buckets on dozens of tiny
        # exchanges.  It is a PER-JOB dial: use
        # scoped_shuffle_partitions (below) — it scopes BOTH confs
        # around one job and restores them even on failure, as
        # tools/bench_scale.py does around x104's big point; leave the
        # shared session at the parallelism default so composed
        # dashboards and streaming micro-batches stay cheap.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet NTZ timestamps as TIMESTAMP (ltz) at the scan —
        # value-identical under UTC, and avoids a post-scan cast projection
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- local-mode ergonomics ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


from contextlib import contextmanager  # noqa: E402


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` AND AQE's
    ``initialPartitionNum`` to ``n`` for the duration of one job, then
    restore both (unset keys are unset again) even on failure.

    This is the per-job partition-headroom dial the r11 measurements
    call for: SCALE_ROOTCAUSE.json proved x104's amplified-scale point
    is STARVED at the session's 32 partitions (20.8 s -> 13.4 s at
    128, repeats=3) while AQE_AB.json proved raising the session-wide
    initial partition count taxes composed small-shuffle pipelines
    1.5-3x and streaming ~30% — so the headroom must be scoped to the
    data-heavy job, never the shared session.  AQE still coalesces
    DOWN from ``n`` when the stats are small, so over-provisioning
    inside the scope costs only map-output bookkeeping.

    Spark reads these confs at ACTION time, so the scope covers
    exactly the jobs triggered inside the ``with`` block; lazy frames
    returned out of the scope execute under the restored session
    defaults (document per-operator which stages materialize
    inside)."""
    if int(n) < 1:
        raise ValueError("shuffle_partitions must be >= 1")
    conf = spark.conf
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    prev = {k: conf.get(k, None) for k in keys}
    for k in keys:
        conf.set(k, str(int(n)))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
