"""Repository benchmark: one seeded workload per run, end to end.

    python3 perfbench/run.py --workload crawl_mix|dedup|all --seed N \
        [--trace 0|1]

Workloads (inputs are generated here from --seed; the program only sees
the generated rows):
  crawl_mix   4000 CC-style pages (log-normal 1-30 KB, tag soup, hostile
              and non-UTF-8 pages) through extract_pages, main_text
              consumed; the check also covers serialize_pages and nodes_of
  dedup       generated documents/embeddings tables through the eight
              near-dup queries of the __spark_entry__ registry
`all` runs each workload in turn, each in its own process.

Load shape: a batch job run closed-loop by this one Python process on
local[nproc] (nproc = the CPUs this process may use).  Each run is a fresh
Python + JVM process whose set-up spawns all nproc Python workers.
crawl_mix caches its input and runs one untimed warm pass, then timed
passes repeat for RUN_SECONDS; figures come from the median pass.  dedup
times one pass of the query family in the fresh session, as a batch job
runs it.  Outputs are then checked (untimed) against the in-process
reference or, for dedup, each query's DuckDB oracle.

End-to-end metrics (--trace 0), in CPU time of this process, the JVM and
the Python workers, read from /proc, leaving out the JVM's JIT compiler
threads:
  setup_s             CPU seconds from process start until the session is
                      up, the DTD loaded and every worker warm
  cpu_ms_per_doc      CPU milliseconds per input document of a timed pass
                      (dedup: per row of the documents table)
  worker_peak_rss_mb  largest peak RSS of any Python worker
The line before the result gives the wall-clock figures (setup_wall_s,
docs_per_s, mb_per_s, job_s = wall of one pass) and failed_frac.

--trace 1 is a separate run that also records spans around calls into
each layer and prints the per-layer metrics.  A layer the workload does
not reach reads 0.  Spans and the full result go to
perfbench/.work/results/.  The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}.  The run exits 1 if any
check fails and 2 if the program cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("crawl_mix", "dedup")
# the timed phase of every run; --seconds exists for callers that pass the
# run length explicitly and must agree with it
RUN_SECONDS = 10

# end-to-end metrics: CPU seconds of set-up, CPU per document of a pass
# and worker memory.  CPU time leaves out what the hypervisor gives other
# guests (steal), which moved wall time on a shared 4-vCPU VM by up to 45%
# between runs minutes apart.
E2E_UNITS = {"setup_s": "s", "cpu_ms_per_doc": "ms",
             "worker_peak_rss_mb": "MB"}
# wall-clock figures, printed on the line before the result
WALL_UNITS = {"setup_wall_s": "s", "docs_per_s": "1/s", "mb_per_s": "MB/s",
              "job_s": "s"}

HTML_LAYERS = {
    "charset.decode_us_per_doc": "us", "charset.mb_per_s": "MB/s",
    "pda.parse_us_per_doc": "us", "pda.parse_mb_per_s": "MB/s",
    "pda.post_mortem_us_per_doc": "us", "extract.score_us_per_doc": "us",
    "serialize.serialize_us_per_doc": "us",
    "pda.nodes_per_doc": "count", "pda.warns_per_doc": "count",
    "extract.spans_per_doc": "count", "extract.kept_span_frac": "ratio",
    "pipeline.main_text_s": "s", "pipeline.bytes_to_python_mb": "MB",
    "pipeline.bytes_from_python_mb": "MB", "pipeline.python_worker_s": "s",
    "pipeline.python_share": "ratio", "pipeline.efficiency": "ratio",
    "pipeline.single_core_docs_per_s": "1/s",
    "charset.slope": "ratio", "pda.parse_slope": "ratio",
    "pda.post_mortem_slope": "ratio", "extract.score_slope": "ratio",
    "pipeline.main_text_slope": "ratio",
}


def layer_units() -> dict:
    from dedupwork import QUERIES
    units = {"session.start_s": "s", "session.worker_spawn_s": "s",
             "dtd.load_s": "s", "trace.docs_per_s": "1/s",
             "trace.cpu_ms_per_doc": "ms"}
    units.update(HTML_LAYERS)
    for q in QUERIES:
        units[f"relational.{q}_s"] = "s"
        units[f"relational.{q}.jobs"] = "count"
        units[f"relational.{q}.stages"] = "count"
        units[f"relational.{q}.shuffle_mb"] = "MB"
    return units


def environment(seed: int, nproc: int) -> dict:
    import pyarrow
    import pyspark
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    # the checkout may not be a git repository: also digest the sources
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT,
                                                      "closure_html_spark"))):
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return {"nproc": nproc, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "seed": seed, "git_sha": sha, "source_sha256": h.hexdigest()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds != RUN_SECONDS:
        ap.error(f"the run length is fixed at {RUN_SECONDS} s")
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        from closure_html_spark.dtd import load_dtd
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    import sparkenv
    from spans import Recorder

    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(WORK, run_id)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    trace = args.trace == 1
    event_dir = os.path.join(work, "eventlog") if trace else None
    sparkenv.configure_env(ROOT, work, nproc, event_dir)
    rec = Recorder(run_id) if trace else None

    def span(name):
        return rec.span(name) if rec is not None else contextlib.nullcontext()

    try:
        out, extra = run(args, nproc, work, event_dir, rec, span, load_dtd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": extra["env"]}))
    if rec is not None:
        print(json.dumps({"self_s": extra["self_s"]}))
    print(json.dumps({"inputs": extra["inputs"]}))
    if extra["check_failures"]:
        print(json.dumps({"check_failures": extra["check_failures"]}))
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(dict(out, **extra), f, indent=1)
    if rec is not None:
        rec.dump(os.path.join(results, f"{run_id}.spans.jsonl"))
    print(json.dumps(dict(extra["wall"], failed_frac={
        "value": out["failed"] / out["attempted"], "unit": "ratio"})))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def run_all(args) -> int:
    """Runs every workload in a fresh process; exits non-zero if any
    run does."""
    worst = 0
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, "--seed", str(args.seed),
                            "--trace", str(args.trace)])
        worst = max(worst, p.returncode)
    return worst


def run(args, nproc, work, event_dir, rec, span, load_dtd):
    import dedupwork
    import htmlwork
    import sparkenv
    spark = None
    try:
        t0 = time.perf_counter()
        with span("session.start"):
            spark = sparkenv.start_session(nproc)
        t1 = time.perf_counter()
        with span("dtd.load"):
            load_dtd()
        t2 = time.perf_counter()
        with span("session.worker_spawn"):
            sparkenv.warm_workers(spark, nproc)
        t3 = time.perf_counter()
        setup_cpu_s = sparkenv.cpu_seconds()

        if args.workload == "dedup":
            res = dedupwork.run(spark, args.seed, work, rec, span)
        else:
            res = htmlwork.run(spark, args.seed, args.seconds, nproc, rec,
                               span)
    finally:
        if spark is not None:
            sparkenv.stop_session(spark)

    if rec is not None:
        units = layer_units()
        layers = dict.fromkeys(units, 0.0)
        layers.update(res["per_layer"])
        layers["session.start_s"] = t1 - t0
        layers["dtd.load_s"] = t2 - t1
        layers["session.worker_spawn_s"] = t3 - t2
        if args.workload == "dedup":
            layers.update(dedupwork.eventlog_layers(
                sparkenv.eventlog_summary(event_dir)))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in units.items()}
    else:
        vals = dict(res["metrics"], setup_s=setup_cpu_s)
        metrics = {k: {"value": vals[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    wall = dict(res["wall"], setup_wall_s=t3 - T_START)
    out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    extra = {"env": environment(args.seed, nproc), "inputs": res["inputs"],
             "wall": {k: {"value": wall[k], "unit": u}
                      for k, u in WALL_UNITS.items()},
             "passes": res["passes"], "pass_cpu_s": res["pass_cpu_s"],
             "steal_share": res["steal_share"],
             "query_s": res.get("query_s"),
             "check_failures": res["check_failures"]}
    if rec is not None:
        extra["self_s"] = {k: round(v, 4) for k, v in
                           sorted(rec.self_times().items())}
    return out, extra


if __name__ == "__main__":
    sys.exit(main())
