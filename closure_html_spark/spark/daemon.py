"""PySpark's worker daemon, started after the parse stage's imports, with
pandas kept out.

Spark starts it as `python -m closure_html_spark.spark.daemon
pyspark.worker` (spark.python.daemon.module, set by get_spark) and forks
every Python worker from it.  pyspark.daemon imports only pyspark.worker,
so each worker forked from it imports pyarrow, the parser and the DTD on
its own.  Here they are loaded once, before the first fork, and frozen
(gc.freeze) so that no collection walks or writes to their objects: the
pages a worker does not write stay shared copy-on-write between the
daemon and its workers, and the gc.collect() the daemon runs after each
task of a reused worker skips them.  The module set is what a worker
needs for its first extract_pages task and a stock daemon does not hold.

Every Python stage is a mapInArrow (pipeline.doc_stage), so no worker
needs pandas, yet pyarrow's pandas shim imports it on the first
pa.array() and tries again on each Array.to_numpy(zero_copy_only=False).
Loaded, it held ~29 MB of the daemon's RSS (117.8 MB against 88.4 MB
without it at local[4]) and ~14-16 MB of each worker's peak.  So before
the first fork this module puts a finder first on sys.meta_path that
makes pandas unimportable in the daemon and every worker forked from it:
pyarrow's shim then goes on without pandas, and a mapInPandas or pandas
UDF fails with the finder's message.  The driver, and so toPandas(), is
not affected.
"""

import gc
import importlib
import sys

import pyspark.daemon

from ..dtd import load_dtd


class _NoPandas:
    """A sys.meta_path finder that refuses pandas, and so every pandas
    submodule, whose import starts with its parent's."""

    @staticmethod
    def find_spec(name, path=None, target=None):
        if name != "pandas":
            return None
        raise ModuleNotFoundError(
            "No module named 'pandas' in a Python worker of "
            f"{__spec__.name}: no stage uses pandas, so this daemon keeps it "
            "out of every worker; write the stage as a mapInArrow",
            name=name)


sys.meta_path.insert(0, _NoPandas())
for _name in ("pyarrow", "closure_html_spark.spark.pipeline"):
    importlib.import_module(_name)
load_dtd()
gc.freeze()

if __name__ == "__main__":
    pyspark.daemon.manager()
