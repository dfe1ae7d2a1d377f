"""Spark-side plumbing of the benchmark: environment, session start-up
and teardown, worker warm-up, worker memory and CPU time from /proc, SQL
metrics from executed plans, and the event-log summary.  Everything here
drives the program from outside; nothing in the library is patched."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict


def configure_env(root: str, work: str, nproc: int,
                  event_log_dir: str | None) -> None:
    """Points every scratch location of Spark, the JVM and Python inside
    `work`, and (for the traced run) turns on Spark's event log.  Must run
    before pyspark launches its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # compiler threads live as long as the JVM, so cpu_seconds can subtract
    # their CPU time
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    # Python workers import the package and this directory's modules
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_session(nproc: int):
    from closure_html_spark.spark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(batches):
    import time as _time

    import pyarrow as pa

    from closure_html_spark.dtd import load_dtd
    from closure_html_spark.spark import pipeline  # noqa: F401  (import cost)
    load_dtd()
    # block long enough that every task gets its own worker process
    _time.sleep(1.0)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"n": pa.array([1], pa.int32())})


def warm_workers(spark, nproc: int) -> None:
    """Spawns all `nproc` Python workers and loads the DTD in each before
    the clock starts."""
    from pyspark.sql import functions as F
    (spark.range(nproc).repartition(nproc).mapInArrow(_warm, "n int")
     .agg(F.count(F.lit(1))).collect())


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        rest = data[data.rindex(")") + 2:].split()
        children[int(rest[1])].append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_workers() -> list[int]:
    pid = jvm_pid()
    if pid is None:
        return []
    out = []
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"python" in cmd:
            out.append(p)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of `pid` and of its reaped children, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return 0
    # fields 14-17 (utime, stime, cutime, cstime) of stat
    return sum(int(x) for x in data[data.rindex(")") + 2:].split()[11:15])


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JVM's JIT compiler threads, in clock ticks."""
    total = 0
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        if data[data.index("(") + 1:].startswith(("C1 Compiler",
                                                   "C2 Compiler")):
            total += sum(int(x) for x in
                         data[data.rindex(")") + 2:].split()[11:13])
    return total


def cpu_seconds() -> float:
    """CPU seconds used so far by this process, the JVM and every process
    the JVM started (the Python workers), leaving out the JVM's JIT
    compiler threads.  Time the hypervisor gives to other guests (steal)
    is not in it, unlike wall time; JIT compilation is left out because
    how much of it lands in a timed window depends on timing (it is ~40%
    of the CPU of a cold dedup pass)."""
    pids = [os.getpid()]
    pid = jvm_pid()
    jit = 0
    if pid is not None:
        pids += [pid] + _descendants(pid)
        jit = _jit_ticks(pid)
    return (sum(_cpu_ticks(p) for p in pids) - jit) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) of any live Python worker, in MB."""
    return max((_status_kb(p, "VmHWM") for p in python_workers()),
               default=0) / 1024.0


def stop_session(spark) -> None:
    """Stops the session, then the JVM it launched, and waits for the JVM
    and every Python worker to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = python_workers()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for p in workers:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


# --- SQL metrics of executed plans -------------------------------------

def plan_metrics(df, node_prefix: str) -> dict[str, float]:
    """Sums each SQL metric over the executed-plan nodes whose name starts
    with `node_prefix` (after the action on `df` has run)."""
    jvm = df.sparkSession._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[str, float] = defaultdict(float)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "InputAdapter" or cls == "WholeStageCodegenExec":
            todo.extend(conv.asJava(node.children()))
            continue
        if node.nodeName().startswith(node_prefix):
            metrics = conv.asJava(node.metrics())
            for name in metrics:
                out[name] += metrics[name].value()
        todo.extend(conv.asJava(node.children()))
    return dict(out)


# --- event log ---------------------------------------------------------

def eventlog_summary(event_log_dir: str) -> dict[str, dict]:
    """Per job description: job and stage counts and shuffle MB written."""
    per = defaultdict(lambda: {"jobs": 0, "stages": 0, "shuffle_mb": 0.0})
    stage_desc: dict[int, str] = {}
    # Spark 4 writes a rolling log: one directory per application
    paths = glob.glob(os.path.join(event_log_dir, "**", "events_*"),
                      recursive=True)
    for path in sorted(paths, key=lambda p: int(
            os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    if desc is None:
                        continue
                    per[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    desc = stage_desc.get(info["Stage ID"])
                    if desc is None:
                        continue
                    per[desc]["stages"] += 1
                    for acc in info.get("Accumulables", ()):
                        if acc.get("Name") == \
                                "internal.metrics.shuffle.write.bytesWritten":
                            per[desc]["shuffle_mb"] += int(acc["Value"]) / 1e6
    return dict(per)
