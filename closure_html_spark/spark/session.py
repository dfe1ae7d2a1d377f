"""SparkSession helper with the engine's standard tuning.

Designed for local[N] testing but with settings that transfer to a real
multi-executor cluster: AQE on (skew-join splitting, partition coalescing),
Arrow exchange for the mapInArrow stages, and Arrow batches capped by rows
and by bytes (ARROW_BATCH_CAPS), so that a Python worker holds about
1 MiB of input documents plus one page at once (SURVEY.md §4 "physical
risks").

Worker model: Spark forks each Python worker from one daemon process per
executor.  The session names closure_html_spark.spark.daemon as that
daemon, which imports pyarrow, the parse stage and the DTD once, freezes
them out of the garbage collector, and then runs PySpark's own daemon
loop.  A worker therefore starts with the parse stage's imports done,
and shares their pages with the daemon and its sibling workers
copy-on-write instead of holding a private copy each.  No worker of this
session can import pandas, which the daemon makes unimportable: every
Python stage is a mapInArrow, and a mapInPandas or pandas UDF fails in
the worker.  The driver's own pandas (toPandas) is not affected.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the module Spark runs (python -m) as the executor's Python worker daemon
DAEMON_MODULE = "closure_html_spark.spark.daemon"

# Arrow batch caps for every Python stage.  A worker holds one batch's
# documents, their decoded text and the staged output at once, so the
# byte cap sets its working set (SCALE.md's worker-memory rule).  Spark's
# own default is 64 MiB, which let a 500-page crawl partition (~3.3 MB)
# reach a worker as one batch.  Spark closes a batch at the first row
# that brings it to the cap, so a batch is under the cap plus one row.
# That row arrives whole: the parse stages cut a page to
# pipeline.MAX_DOC_BYTES only after the batch is in the worker.
ARROW_BATCH_CAPS = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(1 << 20),
}


def get_spark(app: str, master: str,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's SparkSession.  shuffle_partitions defaults to
    max(cpus, 8), where cpus is SPARK_GRAFT_CPUS or the CPUs this process
    may use.

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
    the builder: a later spark.conf.set would not reach that cache.

    Python workers fork from DAEMON_MODULE (spark.python.daemon.module),
    which has already imported the parse stage and loaded the DTD, and
    which keeps pandas out of every worker.  A
    worker puts the --py-files archives on its path only when a task
    arrives, after the fork, so the package must be importable from the
    daemon's working directory or PYTHONPATH: a daemon module found only
    inside a --py-files zip fails with "No module named ...".  A job
    that ships the package only as --py-files builds its own session
    with PySpark's stock daemon, as tools/run_extraction.py does."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0)))))
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
        # per thread) for cores and halved the Python stages' throughput
        # at full occupancy (measured at local[32]);
        # throughput-oriented ParallelGC wins for this batch workload
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=ARROW_BATCH_CAPS)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .getOrCreate()
    )
