"""Benchmark: extraction throughput and scaling, a skewed-host
extract, and the wall time of 29 relational queries.

Run: `python bench.py`.  Three environment variables are read:
  SPARK_GRAFT_SF_DIR         input tables (default: the sf0.1 test tables)
  SPARK_GRAFT_CPUS           top parallelism (default: the CPUs this
                             process may run on)
  SPARK_GRAFT_BENCH_SIDECAR  where the full results go (default
                             BENCH_FULL.json at sf0.1, else
                             BENCH_FULL_<sfdir>.json, next to this file)

Scaling protocol: the same extraction job runs at N = max(1, CPUS // 4)
and 4N = CPUS threads on the same input, in ABBA order (N, 4N, 4N, N).
Each leg is a fresh Python + JVM subprocess, warms every worker, then
times three runs and keeps the fastest.  The fastest leg per level is
kept, and efficiency = thr(4N) / (4 * thr(N)); when CPUS is not a
multiple of 4 the factor is CPUS / N instead of 4.

The last stdout line is one compact JSON object (`compact`):
  {"metric": "extract_docs_per_sec", "value": <sum of query secs>,
   "unit": "sec", "sf": ..., "docs_per_sec": ..., "mb_per_sec": ...,
   "n_docs": ..., "avg_doc_bytes": ..., "queries": {name: sec},
   "skew": {...}, "scaling": {...}, "full_results": <sidecar name>}
The sidecar holds the same result plus every leg's wall samples and both
relational passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from closure_html_spark.spark.pages import pages_from_documents
from closure_html_spark.spark.pipeline import extract_pages
from closure_html_spark.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0)))))
TILE = 8     # pages_from_documents tiling of the documents table
HEAVY = 16   # of which this many are heavy variants

# looked up in __spark_entry__'s registries, so each runs with the
# parameters its oracle gate replays
RELATIONAL = (
    "pricing_summary", "top_revenue_nations", "window_user_events",
    "sessionize", "dedup_exact", "ngram_shingles", "ann_cosine_topk",
    "minhash_bands", "winnow_fingerprint", "jaccard_pairs",
    "embedding_neardup_lsh", "minhash_est_pairs", "paragraph_clean_50",
    "corpus_clean_pipeline", "pdf_extract", "warc_extract",
    "corpus_sample", "pack_sequences", "decontaminate",
    "incremental_dedup", "quality_classifier", "bpe_tokenize",
    "lm_perplexity", "repeated_span_clean", "bm25_topk", "semantic_dedup",
    "pq_encode", "ann_pq_topk", "dsir_weights",
)

COMPACT_KEYS = ("metric", "value", "unit", "sf", "docs_per_sec",
                "mb_per_sec", "n_docs", "avg_doc_bytes", "queries", "skew",
                "scaling", "full_results")


def levels(cpus: int) -> list[int]:
    """The two scaling levels, N and 4N (4N = cpus)."""
    return [max(1, cpus // 4), cpus]


def _sf_of(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def _warm_batches(batches):
    # blocks ~1.5 s, so the scheduler must start one Python worker per
    # thread; a fast job is served by a few reused workers and leaves the
    # rest to pay imports and the DTD load inside the timed window
    import time as _t

    import pandas as _pd

    from closure_html_spark.dtd import load_dtd
    load_dtd()
    _t.sleep(1.5)
    for _ in batches:
        pass
    yield _pd.DataFrame({"n": [1]})


def _session(name: str, n_threads: int):
    """A fresh session at local[n_threads] with every worker warm, and
    the bench pages."""
    spark = get_spark(app=f"bench-{name}-n{n_threads}",
                      master=f"local[{n_threads}]",
                      shuffle_partitions=max(n_threads, 8))
    spark.range(n_threads).repartition(n_threads) \
        .mapInPandas(_warm_batches, "n int").agg(F.count(F.lit(1))).collect()
    pages = pages_from_documents(spark, SF_DIR, tile=TILE, variants=4,
                                 heavy=HEAVY)
    return spark, pages


def _timed_extract(df) -> float:
    t0 = time.time()
    extract_pages(df, id_cols=("url",),
                  columns=("extracted_text", "spans", "n_nodes")) \
        .agg(F.sum(F.length("extracted_text")), F.sum(F.size("spans")),
             F.sum("n_nodes")).collect()
    return round(time.time() - t0, 3)


def run_extraction(n_threads: int) -> dict:
    """One scaling leg: best of three timed extract runs."""
    spark, pages = _session("leg", n_threads)
    # 2 tasks per thread: at 8 per thread the per-task Arrow stream and
    # dispatch overhead halved a 32-thread leg (BASELINE.md round 4)
    pages = pages.repartition(max(2 * n_threads, 16), "url").cache()
    n_docs, total_bytes = pages.agg(
        F.count(F.lit(1)), F.sum(F.length("html"))).collect()[0]
    # the first run pays JIT and codegen warm-up that a long job amortizes
    walls = [_timed_extract(pages) for _ in range(3)]
    spark.stop()
    wall = min(walls)
    return {"threads": n_threads, "wall_sec": wall, "wall_samples": walls,
            "docs_per_sec": round(n_docs / wall, 1), "n_docs": int(n_docs),
            "avg_doc_bytes": int(total_bytes / n_docs),
            "mb_per_sec": round(total_bytes / wall / 1e6, 1)}


def run_skew_leg(n_threads: int) -> dict:
    """Zipf-host skew: the synthesized corpus puts ~30% of pages on host0,
    so an extract partitioned by host runs a third of the work on one
    core.  Times the same extract over a plain repartition(host) and over
    salt_skewed + repartition(host, salt), ABBA, fastest per config.

    AQE splits skewed partitions only for sort-merge joins and REBALANCE
    hints; an explicit repartition(key) is a distribution AQE must keep,
    so salting is the lever here.  Extract needs no key locality, so
    salting is always safe (lineage.py)."""
    from closure_html_spark.spark.lineage import salt_skewed
    spark, pages = _session("skew", n_threads)
    n_parts = max(2 * n_threads, 16)
    pages = pages.withColumn(
        "url_host",
        F.regexp_extract("url", r"https://([^/]+)/", 1)).cache()
    n_docs = pages.count()
    # hot-host detection is an eager stats pass (counts + quantile), timed
    # apart: a production run pays it once, not per stage
    t0 = time.time()
    salted = salt_skewed(pages, key="url_host", n_salt=8)
    salt_prep = round(time.time() - t0, 3)
    plans = {"unsalted": pages.repartition(n_parts, "url_host"),
             "salted": salted.repartition(n_parts, "url_host", "salt")}
    walls: dict[str, list[float]] = {"unsalted": [], "salted": []}
    for name in ("unsalted", "salted", "salted", "unsalted"):
        walls[name].append(_timed_extract(plans[name]))
    spark.stop()
    u, s = min(walls["unsalted"]), min(walls["salted"])
    return {"threads": n_threads, "n_docs": int(n_docs),
            "n_partitions": n_parts, "salt_prep_sec": salt_prep,
            "unsalted_wall_sec": u, "salted_wall_sec": s,
            "speedup": round(u / s, 3) if s else None,
            "wall_samples": walls}


def _subprocess(flag: str, n: int) -> dict:
    """Runs `bench.py <flag> <n>` in a fresh Python + JVM: reusing one
    JVM across stop()/getOrCreate() cycles slows later mapInPandas legs
    3-5x (accumulated heap/codegen state)."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), flag, str(n)],
        capture_output=True, text=True, timeout=580,
        cwd=os.path.dirname(os.path.abspath(__file__)))
    if out.returncode != 0:
        raise RuntimeError(f"bench.py {flag} {n} failed:\n"
                           f"{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _scaling(legs: list[dict], lo: int, hi: int) -> tuple[dict, dict]:
    """(fastest leg per level, scaling summary)."""
    best: dict[int, dict] = {}
    for leg in legs:
        n = leg["threads"]
        if n not in best or leg["docs_per_sec"] > best[n]["docs_per_sec"]:
            best[n] = leg
    eff = best[hi]["docs_per_sec"] / (hi / lo * best[lo]["docs_per_sec"])
    return best, {
        "levels": {str(n): best[n]["docs_per_sec"] for n in (lo, hi)},
        f"efficiency_{lo}_to_{hi}": round(eff, 3),
        "legs": [{"threads": leg["threads"],
                  "docs_per_sec": leg["docs_per_sec"],
                  "wall_samples": leg["wall_samples"]} for leg in legs]}


def _relational() -> dict[str, list[float]]:
    """Wall seconds of two passes over RELATIONAL into a noop sink."""
    import __spark_entry__ as entry
    registry = {**entry.queries(), **entry.aux_queries()}
    spark = get_spark(app="bench-rel", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    def run(name):
        # an event log groups this query's jobs by the description
        spark.sparkContext.setJobDescription(f"q:{name}")
        registry[name](spark, SF_DIR).write.format("noop") \
            .mode("overwrite").save()

    # untimed: the session's first query pays its warm-up (class loading,
    # the first scan and codegen: 2-7 s at sf0.01), which pass 1 would
    # otherwise charge to RELATIONAL[0]
    run(RELATIONAL[0])
    passes: dict[str, list[float]] = {}
    for _ in range(2):
        for name in RELATIONAL:
            t0 = time.time()
            run(name)
            passes.setdefault(name, []).append(round(time.time() - t0, 3))
    spark.stop()
    return passes


def compact(result: dict) -> str:
    """The one-line headline: COMPACT_KEYS of `result`, with the skew leg
    cut to its three figures and the scaling legs left out."""
    out = {k: result.get(k) for k in COMPACT_KEYS}
    if result.get("skew"):
        out["skew"] = {k: result["skew"][k] for k in
                       ("unsalted_wall_sec", "salted_wall_sec", "speedup")}
    if result.get("scaling"):
        out["scaling"] = {k: v for k, v in result["scaling"].items()
                          if k != "legs"}
    return json.dumps(out)


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] in ("--leg", "--skew"):
        run = run_extraction if sys.argv[1] == "--leg" else run_skew_leg
        print(json.dumps(run(int(sys.argv[2]))))
        return 0

    lo, hi = levels(CPUS)
    legs = [_subprocess("--leg", n) for n in (lo, hi, hi, lo)]
    best, scaling = _scaling(legs, lo, hi)
    timings = {f"extract_n{n}": best[n]["wall_sec"] for n in (lo, hi)}
    top = best[hi]
    result: dict = {"metric": "extract_docs_per_sec", "unit": "sec",
                    "sf": _sf_of(SF_DIR), "scaling": scaling,
                    **{k: top[k] for k in ("docs_per_sec", "mb_per_sec",
                                           "n_docs", "avg_doc_bytes")}}

    skew = _subprocess("--skew", CPUS)
    result["skew"] = skew
    timings["skew_extract_unsalted"] = skew["unsalted_wall_sec"]
    timings["skew_extract_salted"] = skew["salted_wall_sec"]

    passes = _relational()
    timings.update((name, min(walls)) for name, walls in passes.items())
    result["queries"] = timings
    result["queries_passes"] = passes
    result["value"] = round(sum(timings.values()), 3)

    # a run at another SF gets a suffixed sidecar, so it cannot overwrite
    # the committed sf0.1 one
    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    default = ("BENCH_FULL.json" if sf_name == "sf0.1"
               else f"BENCH_FULL_{sf_name}.json")
    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), default))
    result["full_results"] = os.path.basename(sidecar)
    with open(sidecar, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(compact(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
