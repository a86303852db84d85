"""SparkSession factory with scale-aware defaults.

The reference hardcodes its session config (``App.java:86-90``: app name,
standalone master, ``spark.executor.memory=1g``). Here the session is
parameterized and defaults are chosen for correctness-at-scale:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) — the 100 TB story relies on it.
- UTC session timezone so event-time semantics match the oracle and the
  reference's UTC hour selection (``App.java:44``).
- Arrow enabled for the Pandas-UDF paths (similarity / multimodal ops).
- Streaming queries do not inherit the 32-partition batch default:
  ``streaming.sinks.start_query`` sizes them to the cores at start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "tweets-spark-top-10-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master=None`` defers to spark-submit / an existing session; tests
    and local runs pass ``local[N]`` or set ``SPARK_GRAFT_CPUS``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # local-mode executors share the driver JVM; the 1g default heap
        # GC-thrashes a 32-thread run (bench total swung 48s->92s from
        # heap pressure alone). Create-time conf: ignored if a session
        # already exists.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Adaptive execution: coalesce shuffle partitions, split skewed
        # joins, pick broadcast joins from runtime stats.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Deterministic event-time semantics (reference selects hours in
        # UTC, App.java:44; its Calendar default-zone bug is §1.2).
        "spark.sql.session.timeZone": "UTC",
        # Arrow for pandas_udf / applyInPandas / mapInPandas paths.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python UDTFs also cross via Arrow batches, not pickled rows.
        "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
        # Readable errors over deep Catalyst stacktraces.
        "spark.sql.pyspark.jvmStacktrace.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
