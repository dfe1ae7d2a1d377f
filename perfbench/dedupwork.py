"""The dedup workload: the near-dup query family over generated
documents/embeddings tables, with the parameters the `queries()` /
`aux_queries()` registry of __spark_entry__ pins, checked against each
query's DuckDB oracle SQL from the same registry."""

from __future__ import annotations

import math
import os
import time

import gen

QUERIES = ("minhash_est_pairs", "jaccard_pairs", "embedding_neardup_lsh",
           "ann_lsh_topk", "semantic_dedup", "incremental_dedup",
           "text_dedup_clean", "decontaminate")
N_DOCS = 1500
N_VECS = 1000


def write_tables(seed: int, sf_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs, vecs, labels, stats = gen.dedup_tables(seed, N_DOCS, N_VECS)
    os.makedirs(sf_dir, exist_ok=True)
    cols = list(zip(*docs))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64())}),
        os.path.join(sf_dir, "documents.parquet"))
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), gen.EMB_DIM)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(sf_dir, "embeddings.parquet"))
    stats["input_mb"] = (sum(len(d[1]) for d in docs) + vecs.nbytes) / 1e6
    return stats


def _registry():
    import __spark_entry__ as entry
    q = {**entry.queries(), **entry.aux_queries()}
    o = {**entry.oracle_sql(), **entry.aux_oracle_sql()}
    return {n: q[n] for n in QUERIES}, {n: o[n] for n in QUERIES}


def _normalize(rows: list) -> list:
    """Order-insensitive row form: columns by name, floats to 6 places."""
    out = []
    for r in rows:
        vals = []
        for k in sorted(r):
            v = r[k]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            elif hasattr(v, "item"):
                v = v.item()
            elif isinstance(v, (list, tuple)):
                v = repr(list(v))
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def _oracles(sf_dir: str, oracles: dict) -> dict:
    """Normalized rows of each query's oracle SQL, run by DuckDB."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        out = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            out[name] = _normalize([dict(zip(names, r))
                                    for r in cur.fetchall()])
        return out
    finally:
        con.close()


def run(spark, seed: int, work: str, rec, span) -> dict:
    """Times one pass of the query family in the fresh session, collecting
    each result, then checks every result against its oracle.  There is
    no warm pass: the family is a batch job that runs once per session,
    and a warm pass would double the run."""
    sf_dir = os.path.join(work, "dedup_sf")
    stats = write_tables(seed, sf_dir)
    fns, oracles = _registry()
    sc = spark.sparkContext

    from sparkenv import cpu_seconds, steal_ticks, worker_peak_rss_mb
    got, per_query = {}, {}
    steal0 = steal_ticks()
    c_pass = cpu_seconds()
    t_pass = time.perf_counter()
    with span("pass"):
        for name in QUERIES:
            # the event-log summary groups jobs by this description
            sc.setJobDescription(f"q:{name}" if rec is not None else None)
            t0 = time.perf_counter()
            with span(f"relational.{name}"):
                try:
                    got[name] = [r.asDict() for r in
                                 fns[name](spark, sf_dir).collect()]
                except Exception as exc:  # a raising query is a failure
                    got[name] = exc
            per_query[name] = time.perf_counter() - t0
        sc.setJobDescription(None)
    job_s = time.perf_counter() - t_pass
    cpu_s = cpu_seconds() - c_pass
    steal1 = steal_ticks()
    rss = worker_peak_rss_mb()

    wants = _oracles(sf_dir, oracles)
    failed, notes = 0, []
    for name in QUERIES:
        if isinstance(got[name], Exception):
            failed += 1
            notes.append(f"{name}: raised {got[name]!r}"[:300])
        elif _normalize(got[name]) != wants[name]:
            failed += 1
            notes.append(f"{name}: {len(got[name])} rows differ from the "
                         f"oracle's {len(wants[name])}")
    result = {
        "inputs": stats,
        "passes": [round(job_s, 4)],
        "pass_cpu_s": [round(cpu_s, 3)],
        "steal_share": (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]),
        "query_s": {n: round(v, 4) for n, v in per_query.items()},
        "check_failures": notes,
        "attempted": len(QUERIES), "failed": failed,
        "metrics": {"cpu_ms_per_doc":
                    cpu_s / stats["documents_rows"] * 1e3,
                    "worker_peak_rss_mb": rss},
        "wall": {"docs_per_s": stats["documents_rows"] / job_s,
                 "mb_per_s": stats["input_mb"] / job_s, "job_s": job_s},
    }
    if rec is not None:
        result["per_layer"] = {f"relational.{n}_s": v
                               for n, v in per_query.items()}
        result["per_layer"]["trace.docs_per_s"] = \
            stats["documents_rows"] / job_s
        result["per_layer"]["trace.cpu_ms_per_doc"] = \
            result["metrics"]["cpu_ms_per_doc"]
    return result


def eventlog_layers(summary: dict) -> dict:
    """Jobs, stages and shuffle MB per query of the timed pass."""
    out = {}
    for name in QUERIES:
        s = summary.get(f"q:{name}", {})
        out[f"relational.{name}.jobs"] = s.get("jobs", 0)
        out[f"relational.{name}.stages"] = s.get("stages", 0)
        out[f"relational.{name}.shuffle_mb"] = s.get("shuffle_mb", 0.0)
    return out
