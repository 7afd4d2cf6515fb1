"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB deployment and merely scaled down
for local runs:

- AQE on (runtime shuffle re-planning + skew-join splitting);
- Arrow transfer on, with ``maxRecordsPerBatch`` bounded so batches of fat
  ``content`` blobs cannot blow Python-worker memory (SURVEY.md §4.2);
- shuffle partitions sized to the local core count (on a cluster this is
  set to ~2-3× total cores via spark-submit conf, or left to AQE's
  coalescing).
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import SparkSession

ARROW_MAX_RECORDS_PER_BATCH = 256


def get_spark(
    app_name: str = "mrc-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Dict[str, str]] = None,
) -> SparkSession:
    """The engine's session.  With no ``master``, a process started by
    spark-submit (which sets ``PYSPARK_GATEWAY_PORT``) keeps the
    submitted ``--master``; any other process runs
    ``local[SPARK_GRAFT_CPUS or the CPUs this process may use]``.
    ``shuffle_partitions`` defaults to max(8, the session's default
    parallelism)."""
    builder = SparkSession.builder.appName(app_name)
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, spark.sparkContext.defaultParallelism)),
        )
    return spark
