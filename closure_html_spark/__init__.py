from .zipcache import install as _install_zipcache

# PySpark's worker calls importlib.invalidate_caches() at the start of every
# task (pyspark/worker_util.py:144, setup_spark_files).  On Python 3.11 that
# makes each zipimporter re-parse its archive's central directory, and a
# worker holds one zipimporter per imported subpackage of pyspark.zip
# (1328 entries): measured 0.285 worker CPU-s per task, whatever the row
# count.  Every worker-side function of this package imports this file when
# it is unpickled, so each reused worker pays the re-read once, not per task.
_install_zipcache()
