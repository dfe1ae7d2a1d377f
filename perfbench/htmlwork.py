"""The crawl_mix workload: CC-style pages through `extract_pages`.

The run builds a cached input frame from generated pages, runs one untimed
warm pass, then timed passes until the run's seconds are spent, then
checks a sample of outputs against the in-process reference
(decode_html -> parse_html -> extract_main_content / serialize_doc).  The
warm pass also runs `serialize_pages` and `nodes_of` over the sample, so
the check covers those entry points too.

The traced run adds the in-process per-layer ledger, the Spark-side
numbers (mapInArrow SQL metrics, main_text cost) and a size-ladder probe:
the log-log slope of each layer's time against document size."""

from __future__ import annotations

import hashlib
import math
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen

# pages per pass (1.2-2 s per pass on 4 cores), the per-URL correctness
# sample drawn from them, and the pages the traced ledger times
CRAWL_DOCS = 4000
CHECK_SAMPLE = 300
LEDGER_SAMPLE = 800


def to_frame(spark, pages: list, n_parts: int):
    """Cached (url, html, content_type) frame with `n_parts` partitions."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("url", StringType()),
                         StructField("html", BinaryType()),
                         StructField("content_type", StringType())])
    rdd = spark.sparkContext.parallelize([p.row for p in pages], n_parts)
    df = spark.createDataFrame(rdd, schema).cache()
    df.count()
    return df


def _extract_job(df, with_main_text: bool = True):
    from pyspark.sql import functions as F

    from closure_html_spark.spark.pipeline import extract_pages
    ext = extract_pages(df)
    cols = [F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("charset").startswith("error:").cast("int"))
            .alias("errors"),
            F.sum(F.length("extracted_text")).alias("text_chars"),
            F.sum(F.size("spans")).alias("spans")]
    if with_main_text:
        cols.append(F.sum(F.length("main_text")).alias("main_chars"))
    return ext.agg(*cols)


def sample_outputs(df, urls: list) -> dict:
    """A full extract_pages pass over `df` that returns the outputs of the
    sampled URLs (the warm pass, doubling as the input of the correctness
    check), plus serialize_pages and nodes_of over the sampled rows."""
    from pyspark.sql import functions as F

    from closure_html_spark.spark.pipeline import (extract_pages, nodes_of,
                                                   serialize_pages)
    keep = F.col("url").isin(urls)
    out = {r["url"]: r.asDict() for r in extract_pages(df).filter(keep)
           .select("url", "title", F.sha2("extracted_text", 256).alias("text"),
                   F.sha2("main_text", 256).alias("main"),
                   F.size("spans").alias("n_spans"), "n_warns", "charset")
           .collect()}
    few = df.filter(keep)
    for r in serialize_pages(few).collect():
        out.setdefault(r["url"], {})["serialized"] = r["html_out"]
    for r in (nodes_of(few).groupBy("url")
              .agg(F.count(F.lit(1)).alias("n")).collect()):
        out.setdefault(r["url"], {})["nodes"] = r["n"]
    return out


def run(spark, seed: int, seconds: float, nproc: int, rec, span) -> dict:
    from closure_html_spark.dtd import load_dtd
    pages = gen.crawl_pages(seed, CRAWL_DOCS)
    stats = gen.page_stats(pages)
    n_docs = len(pages)
    mb = sum(len(p.html) for p in pages) / 1e6
    df = to_frame(spark, pages, 2 * nproc)
    sample = random.Random(seed ^ 0xC4EC).sample(pages, CHECK_SAMPLE)

    dtd = load_dtd()
    # the references are computed while Spark runs the warm pass
    with ThreadPoolExecutor(1) as pool:
        refs = pool.submit(references, sample, dtd)
        with span("pass.warm"):
            got = sample_outputs(df, [p.url for p in sample])
        refs = refs.result()
    # a second untimed pass: after one, the JVM is still compiling hot code
    # and the first timed pass would cost ~20% more CPU than the rest
    with span("pass.warm"):
        _extract_job(df).collect()
    from sparkenv import cpu_seconds, steal_ticks, worker_peak_rss_mb
    walls, cpus, bad_rows = [], [], 0
    steal0 = steal_ticks()
    t_end = time.perf_counter() + seconds
    while True:
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        with span("pass"):
            q = _extract_job(df)
            r = q.collect()[0]
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds() - c0)
        # a document fails when its row is missing or came back error:*
        bad_rows = max(bad_rows, n_docs - r["rows"] + r["errors"])
        if time.perf_counter() >= t_end:
            break
    steal1 = steal_ticks()
    rss = worker_peak_rss_mb()
    job_s = statistics.median(walls)

    bad, notes = check(got, refs)
    result = {
        "inputs": stats,
        "passes": [round(w, 4) for w in walls],
        "pass_cpu_s": [round(c, 3) for c in cpus],
        "steal_share": (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]),
        "check_failures": notes[:10],
        "attempted": n_docs, "failed": min(n_docs, bad_rows + bad),
        "metrics": {"cpu_ms_per_doc": statistics.median(cpus) / n_docs * 1e3,
                    "worker_peak_rss_mb": rss},
        "wall": {"docs_per_s": n_docs / job_s, "mb_per_s": mb / job_s,
                 "job_s": job_s},
    }
    if rec is not None:
        result["per_layer"] = traced_layers(spark, seed, df, pages, dtd, q,
                                            job_s, nproc, rec)
        result["per_layer"]["trace.docs_per_s"] = n_docs / job_s
        result["per_layer"]["trace.cpu_ms_per_doc"] = \
            result["metrics"]["cpu_ms_per_doc"]
    df.unpersist()
    return result


# --- correctness ---------------------------------------------------------

def _sha(s: str | None) -> str | None:
    return None if s is None else hashlib.sha256(s.encode("utf-8")).hexdigest()


def references(sample: list, dtd) -> dict:
    """In-process reference output per sampled URL, plus the first planted
    ground truth or round-trip property it violates: decode_html ->
    parse_html -> extract_main_content (with main_text), and, decoded
    without the header charset as serialize_pages does, -> serialize_doc
    and its node count."""
    from closure_html_spark.extract import extract_main_content
    from closure_html_spark.parser.charset import decode_html
    from closure_html_spark.parser.pda import parse_html
    from closure_html_spark.serialize import serialize_doc
    out = {}
    for p in sample:
        text, cs = decode_html(p.html, "utf-8", p.content_type)
        doc = parse_html(dtd, text)
        res = extract_main_content(doc, dtd, with_main_text=True)
        mt = res["main_text"]
        plain = parse_html(dtd, decode_html(p.html, "utf-8")[0])
        ser = serialize_doc(plain, dtd)
        why = None
        missing = sum(x not in mt for x in p.payload)
        if missing:
            why = f"{missing} payload paragraphs not in main_text"
        elif gen.NAV_MARK in mt or gen.FOOT_MARK in mt:
            why = "nav/footer text in main_text"
        elif res["title"] != p.title:
            why = "title differs from the planted title"
        elif serialize_doc(parse_html(dtd, ser), dtd) != ser:
            why = "serialized output not byte-stable on re-parse"
        out[p.url] = ({"title": res["title"],
                       "text": _sha(res["extracted_text"]),
                       "main": _sha(mt), "n_spans": len(res["spans"]),
                       "n_warns": len(doc.warnings), "charset": cs,
                       "serialized": ser,
                       "nodes": sum(1 for _ in plain.walk())}, why)
    return out


def check(got: dict, refs: dict) -> tuple[int, list]:
    """Compares the Spark outputs of the sampled URLs with their
    references; returns (failed docs, notes)."""
    bad, notes = 0, []
    for url, (want, why) in refs.items():
        r = got.get(url)
        if r is None:
            why = "missing output row"
        else:
            diff = [k for k, v in want.items() if r.get(k) != v]
            if diff:
                why = f"differs from reference in {diff}"
        if why is not None:
            bad += 1
            notes.append(f"{url}: {why}")
    return bad, notes


# --- traced run: per-layer ledger ----------------------------------------

LAYER_SPANS = ("charset.decode", "pda.parse", "pda.post_mortem",
               "extract.score", "serialize.serialize")


def _ledger(rec, dtd, pages: list, serialize: bool = True) -> dict:
    """Times each layer's public entry point per document, single-core,
    in this process.  parse_html is sgml_parse followed by
    post_mortem_fix_top_level; the two are timed separately."""
    from closure_html_spark.extract import extract_main_content
    from closure_html_spark.parser.charset import decode_html
    from closure_html_spark.parser.pda import (post_mortem_fix_top_level,
                                               sgml_parse)
    from closure_html_spark.serialize import serialize_doc
    nodes = warns = spans = kept = 0
    for p in pages:
        with rec.span("doc"):
            with rec.span("charset.decode"):
                text, _ = decode_html(p.html, "utf-8", p.content_type)
            with rec.span("pda.parse"):
                doc = sgml_parse(dtd, text)
            with rec.span("pda.post_mortem"):
                post_mortem_fix_top_level(doc)
            with rec.span("extract.score"):
                res = extract_main_content(doc, dtd, with_main_text=False)
            if serialize:
                with rec.span("serialize.serialize"):
                    serialize_doc(doc, dtd)
        nodes += len(doc.name)
        warns += len(doc.warnings)
        spans += len(res["spans"])
        kept += sum(1 for s in res["spans"] if s[3])
    n = len(pages)
    return {"pda.nodes_per_doc": nodes / n, "pda.warns_per_doc": warns / n,
            "extract.spans_per_doc": spans / n,
            "extract.kept_span_frac": kept / spans if spans else 0.0}


def _baseline(dtd, pages: list) -> float:
    """Docs/s of the plain single-threaded loop that does the workload's
    per-document work without Spark and without spans."""
    from closure_html_spark.extract import extract_main_content
    from closure_html_spark.parser.charset import decode_html
    from closure_html_spark.parser.pda import parse_html
    t0 = time.perf_counter()
    for p in pages:
        text, _ = decode_html(p.html, "utf-8", p.content_type)
        extract_main_content(parse_html(dtd, text), dtd)
    return len(pages) / (time.perf_counter() - t0)


def _slope(sizes: list, times: list) -> float:
    """Least-squares slope of log(time) against log(size)."""
    pts = [(math.log(s), math.log(t)) for s, t in zip(sizes, times) if t > 0]
    if len(pts) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    den = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / den if den else 0.0


def _job_wall(q) -> float:
    t0 = time.perf_counter()
    q.collect()
    return time.perf_counter() - t0


def _main_text_cost(df, reps: int) -> float:
    """Median over alternating pairs of (job consuming main_text) minus
    (the same job without it: column pruning drops the expression)."""
    diffs = []
    for _ in range(reps):
        with_mt = _job_wall(_extract_job(df, True))
        without = _job_wall(_extract_job(df, False))
        diffs.append(with_mt - without)
    return statistics.median(diffs)


def traced_layers(spark, seed, df, pages, dtd, last_pass, job_s, nproc,
                  rec) -> dict:
    out = {}
    ledger_pages = random.Random(7).sample(pages, LEDGER_SAMPLE)
    first = len(rec.spans)
    with rec.span("ledger"):
        out.update(_ledger(rec, dtd, ledger_pages))
    layer_s = {k: rec.self_times(first).get(k, 0.0) for k in LAYER_SPANS}
    n = len(ledger_pages)
    mb = sum(len(p.html) for p in ledger_pages) / 1e6
    out["charset.decode_us_per_doc"] = layer_s["charset.decode"] / n * 1e6
    out["charset.mb_per_s"] = mb / layer_s["charset.decode"]
    out["pda.parse_us_per_doc"] = layer_s["pda.parse"] / n * 1e6
    out["pda.parse_mb_per_s"] = mb / layer_s["pda.parse"]
    out["pda.post_mortem_us_per_doc"] = layer_s["pda.post_mortem"] / n * 1e6
    out["extract.score_us_per_doc"] = layer_s["extract.score"] / n * 1e6
    out["serialize.serialize_us_per_doc"] = \
        layer_s["serialize.serialize"] / n * 1e6
    # the layers extract_pages runs per document
    per_doc_s = sum(layer_s[k] for k in LAYER_SPANS[:4]) / n
    out["pipeline.python_share"] = per_doc_s * len(pages) / (nproc * job_s)
    with rec.span("baseline"):
        single_core = _baseline(dtd, ledger_pages)
    out["pipeline.single_core_docs_per_s"] = single_core
    out["pipeline.efficiency"] = (len(pages) / job_s) / (nproc * single_core)

    from sparkenv import plan_metrics
    m = plan_metrics(last_pass, "MapInArrow")
    out["pipeline.bytes_to_python_mb"] = m.get("pythonDataSent", 0.0) / 1e6
    out["pipeline.bytes_from_python_mb"] = \
        m.get("pythonDataReceived", 0.0) / 1e6
    out["pipeline.python_worker_s"] = m.get("pythonTotalTime", 0.0) / 1e3

    with rec.span("main_text_ab"):
        out["pipeline.main_text_s"] = _main_text_cost(df, 2)
    with rec.span("ladder"):
        out.update(_ladder_slopes(spark, rec, dtd, gen.ladder_pages(seed)))
    return out


def _ladder_slopes(spark, rec, dtd, pages: list) -> dict:
    """Per shape, the log-log slope of each layer's time against document
    size; each layer's metric is the largest slope over the three shapes.
    main_text is only assembled from spans, so its slope is taken over the
    span-heavy shape."""
    first = len(rec.spans)
    _ledger(rec, dtd, pages, serialize=False)
    layers = {"charset.slope": "charset.decode",
              "pda.parse_slope": "pda.parse",
              "pda.post_mortem_slope": "pda.post_mortem",
              "extract.score_slope": "extract.score"}
    out = {}
    for name, span in layers.items():
        times = rec.durations(span, first)
        out[name] = max(
            _slope([len(p.html) for p in pages if p.kind == s],
                   [t for p, t in zip(pages, times) if p.kind == s])
            for s in ("span_heavy", "tag_dense", "pcdata_dense"))
    heavy = [p for p in pages if p.kind == "span_heavy"]
    costs = []
    for p in heavy:
        one = to_frame(spark, [p], 1)
        costs.append(_main_text_cost(one, 1))
        one.unpersist()
    out["pipeline.main_text_slope"] = _slope([len(p.html) for p in heavy],
                                             costs)
    return out
