"""PySpark's worker daemon, started after the parse stage's imports.

Spark starts it as `python -m closure_html_spark.spark.daemon
pyspark.worker` (spark.python.daemon.module, set by get_spark) and forks
every Python worker from it.  pyspark.daemon imports only pyspark.worker,
so each worker forked from it imports pyarrow, pandas (which pyarrow's
pandas shim loads on the first pa.array()), the parser and the DTD on
its own.  Here they are loaded once, before the first fork, and frozen
(gc.freeze) so that no collection walks or writes to their objects: the
pages a worker does not write stay shared copy-on-write between the
daemon and its workers, and the gc.collect() the daemon runs after each
task of a reused worker skips them.

The module set is what a worker holds after its first extract_pages task
and a stock daemon does not.
"""

import gc
import importlib

import pyspark.daemon

from ..dtd import load_dtd

for _name in ("pyarrow", "pandas", "pyarrow.pandas_compat",
              "closure_html_spark.spark.pipeline"):
    importlib.import_module(_name)
load_dtd()
gc.freeze()

if __name__ == "__main__":
    pyspark.daemon.manager()
