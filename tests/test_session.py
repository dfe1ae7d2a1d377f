"""get_spark's session settings that PySpark reads on the driver."""


def test_dataframe_call_site_capture_is_off(spark):
    """get_spark turns off PySpark's per-Column call-site capture on the
    builder, before any Column method can cache the setting process-wide:
    with it on, every Column method walks the stack and makes ~10 py4j
    round trips."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F
    F.col("x") + 1
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
