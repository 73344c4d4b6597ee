"""SparkSession factory.

The reference creates one Flink ``StreamExecutionEnvironment`` +
``StreamTableEnvironment`` per job with 5s checkpointing and registers a
Hadoop Iceberg catalog (ods/ProduceKafkaDBDataToODS.scala:43-60). Our
equivalent is a single SparkSession configured once:

- **AQE on** — runtime re-planning (skew joins, partition coalescing)
  replaces the reference's hand-tuned broadcast state.
- **UTC session timezone** — the reference carries epoch-millis strings and
  formats them with JVM-default-TZ SimpleDateFormat (utils/DateUtil.scala);
  we pin UTC so results are deterministic and oracle-comparable.
- **nanosAsLong** — the harness ``events`` table stores TIMESTAMP(NANOS)
  parquet, which vanilla Spark rejects; we read it as long and convert
  (see tables.load_events).
- **Iceberg catalog** — registered only when the runtime jar is present
  (lakehouse.catalog); otherwise the lakehouse layer falls back to parquet.

At 100 TB these settings still hold; only ``shuffle.partitions`` (sized for
local[32]) would be raised (or left to AQE's coalescing with a high initial
value) and ``maxPartitionBytes`` tuned to executor memory.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_session(
    app_name: str = "icebergproject_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")

    conf = {
        # Deterministic time semantics (reference formats epoch-millis strings).
        "spark.sql.session.timeZone": "UTC",
        # Harness events.parquet uses TIMESTAMP(NANOS); read as long.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Adaptive execution: runtime shuffle coalescing + skew-join handling.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for any pandas_udf path (vectorized, never per-row).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Broadcast threshold: dims in this engine are small; let Catalyst
        # pick broadcast-hash joins without hints where possible.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    # Register the Iceberg catalog only if the runtime is actually on the
    # classpath (SURVEY §2.1 S4); otherwise lakehouse/ falls back to parquet.
    from icebergproject_spark.lakehouse.catalog import iceberg_available, iceberg_conf

    if iceberg_available():
        for k, v in iceberg_conf().items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_runtime_bloom_filters(spark, application_side_threshold: str | None = None):
    """Turn on Catalyst's runtime bloom-filter join pruning (injects a
    ``might_contain(bloom(build_keys))`` semi-filter on the probe side of
    a shuffle join, built from the selective side at runtime).

    At cluster scale this needs no call at all — the feature is ON by
    default and engages when the probe scan exceeds
    ``applicationSideScanSizeThreshold`` (default 10 GB: exactly the
    100 TB case, where skipping most of a fact scan for a selective dim
    predicate is the whole game). Pass ``application_side_threshold="0"``
    only for sub-GB test data; the default (None) leaves Spark's 10 GB
    threshold untouched, so production callers calling this with no args
    get exactly the stock behavior plus the feature flag.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    if application_side_threshold is not None:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            application_side_threshold,
        )


_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def count_jobs(spark: SparkSession, fn):
    """Run ``fn()`` under a fresh Spark job group; return ``(fn's
    result, number of Spark jobs it ran)``.  A job count does not depend
    on the host's speed, so it is the counter to pin plan-shape claims
    on where wall-clock is noise.  Counted through the public status
    tracker (``getJobIdsForGroup``), which the asynchronous listener bus
    feeds: the count is read until every listed job has finished and
    three reads 50 ms apart agree.  The caller's job group is restored
    afterwards."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    tracker = sc.statusTracker()
    seen, stable = None, 0
    while stable < 3:
        time.sleep(0.05)
        ids = tracker.getJobIdsForGroup(group)
        done = all(
            (info := tracker.getJobInfo(j)) is not None
            and info.status != "RUNNING"
            for j in ids
        )
        stable = stable + 1 if done and len(ids) == seen else 0
        seen = len(ids)
    return out, seen
