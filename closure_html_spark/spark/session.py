"""SparkSession helper with the engine's standard tuning.

Designed for local[N] testing but with settings that transfer to a real
multi-executor cluster: AQE on (skew-join splitting, partition coalescing),
Arrow exchange for the pandas UDF stages, bounded Arrow batch sizes so one
batch of large HTML documents cannot blow executor memory
(SURVEY.md §4 "physical risks").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "closure-html-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's SparkSession: local[cpus] by default, where cpus is
    SPARK_GRAFT_CPUS or the CPUs this process may use.

    PySpark's DataFrame call-site capture is off
    (spark.python.sql.dataFrameDebugging.enabled=false).  With it on,
    every Column method walks the Python stack and makes ~10 py4j round
    trips to record where it was called; one pass of the dedup query
    family sent 17,124 py4j calls with it on and 5,924 with it off (not
    counting py4j's deletes of dead Java references).
    The cost: a Spark error message no longer names the Python line that
    built the failing expression.  PySpark reads the setting once per
    process, at the first Column method after a session starts
    (pyspark.errors.utils.is_debugging_enabled caches it), so it goes on
    the builder: a later spark.conf.set would not reach that cache."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0)))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder
        .appName(app)
        .master(master)
        # local-mode JVM defaults to -Xmx1g: with one concurrent Arrow
        # stream per thread that means GC storms
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # G1's concurrent GC threads contend with the Python workers (one
        # per thread) for cores and halve mapInPandas throughput at full
        # occupancy (measured at local[32]);
        # throughput-oriented ParallelGC wins for this batch workload
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML payloads are KB-to-MB scale; bound Arrow batches BOTH by row
        # count and by bytes so one batch of huge documents cannot blow a
        # Python worker (SURVEY.md §4 physical risk)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
