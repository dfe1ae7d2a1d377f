"""get_spark's session settings, and the worker daemon it names."""

import json
import pathlib
import subprocess
import sys

from closure_html_spark.spark.session import DAEMON_MODULE

ROOT = pathlib.Path(__file__).resolve().parents[1]


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


def test_daemon_module_preloads_then_freezes():
    """Importing the daemon module without running it as __main__ loads
    pyarrow, pandas and the parse stage, loads the DTD and freezes the
    heap, and returns: PySpark's manager loop runs only under `python
    -m`."""
    code = (
        "import gc, json, sys\n"
        "want = ('pyarrow', 'pandas', 'closure_html_spark.spark.pipeline')\n"
        "before = [m for m in want if m in sys.modules]\n"
        f"import {DAEMON_MODULE}\n"
        "from closure_html_spark import dtd\n"
        "print(json.dumps({'before': before,\n"
        "    'after': [m for m in want if m in sys.modules],\n"
        "    'dtds': sorted(dtd._DTDS), 'frozen': gc.get_freeze_count()}))\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=str(ROOT),
                         capture_output=True, text=True, timeout=120,
                         stdin=subprocess.DEVNULL)
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["before"] == []
    assert got["after"] == ["pyarrow", "pandas",
                            "closure_html_spark.spark.pipeline"]
    assert got["dtds"] == ["html-4.0-frameset"]
    assert got["frozen"] > 0


def test_workers_fork_from_the_preload_daemon(spark):
    """get_spark names the daemon module in the session conf, and a Python
    worker's parent process is that daemon, started as `python -m
    closure_html_spark.spark.daemon`."""
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(batches):
        import os

        import pyarrow as pa
        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            argv = [a.decode() for a in f.read().split(b"\0") if a]
        yield pa.RecordBatch.from_pydict({"argv": [argv]})

    got = (spark.range(2).repartition(2)
           .mapInArrow(probe, "argv array<string>").collect())
    assert len(got) == 2
    for r in got:
        argv = list(r["argv"])
        assert argv[argv.index("-m") + 1] == DAEMON_MODULE, argv
