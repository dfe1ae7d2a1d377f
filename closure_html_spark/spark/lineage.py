"""Resumable, lineage-tracked batch runs (north_rule requirements).

At 10^12-document scale a run WILL be interrupted; the unit of recovery is
the url-hash bucket:

  - pages are assigned a stable bucket = pmod(xxhash64(url), n_buckets)
    (the Iceberg `bucket(N, url)` transform equivalent);
  - output parquet is partitioned by bucket;
  - after each bucket group lands, a manifest row
    (bucket, input_count, output_count, warn_count, wall_sec, status,
     run_id) is appended to <output>/_lineage;
  - a resumed run anti-joins pending buckets against completed manifests
    and processes only the remainder -- already-landed buckets are never
    recomputed or rewritten (idempotent restart).

Skew: CC host distributions are Zipfian.  `salt_skewed` splits any bucket
whose row count exceeds SKEW_FACTOR x median across extra salt buckets
before the parse stage, so one hot host cannot stall a partition.
parse/extract is embarrassingly parallel, so salting is always safe here
(no key-locality requirement).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_pages

LINEAGE_SCHEMA = ("bucket int, input_count long, output_count long, "
                  "warn_count long, wall_sec double, status string, "
                  "run_id string")
# salt_skewed: the key it salts, the hot-key cut (count > SKEW_FACTOR x
# median), the salt range, and the most hot keys that ride the plan as an
# isin literal
SALT_KEY = "url_host"
SKEW_FACTOR = 4.0
N_SALT = 8
MAX_LITERAL_KEYS = 1000


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, output_dir: str) -> set[int]:
    try:
        man = spark.read.schema(LINEAGE_SCHEMA).parquet(f"{output_dir}/_lineage")
    except Exception:
        return set()
    rows = (man.filter(F.col("status") == "ok")
            .select("bucket").distinct().collect())
    return {r["bucket"] for r in rows}


def salt_skewed(df: DataFrame) -> DataFrame:
    """Add a `salt` column: 0 for normal SALT_KEY values, 0..N_SALT-1
    (hash-derived, deterministic) for values whose frequency exceeds
    SKEW_FACTOR x median.  Callers repartition on (SALT_KEY, salt) to
    split hot keys.

    Hot-key detection is eager either way (approxQuantile runs a job),
    so the hot set is materialized ONCE here instead of re-running the
    corpus-wide groupBy lazily inside every downstream stage (measured:
    the recompute erased the salting win on the skew bench leg).  Up to
    MAX_LITERAL_KEYS hot keys ride the plan as an isin literal (pure
    map-side, no join); a pathologically flat distribution beyond that
    falls back to a broadcast semi-structure.  Hot keys are >
    SKEW_FACTOR x median by definition, so the count is bounded by
    N_rows / (SKEW_FACTOR * median) -- small for any Zipf-like corpus."""
    counts = df.groupBy(SALT_KEY).agg(F.count(F.lit(1)).alias("_cnt"))
    median = counts.approxQuantile("_cnt", [0.5], 0.01)[0] or 1.0
    hot_df = counts.filter(F.col("_cnt") > SKEW_FACTOR * median) \
        .select(SALT_KEY)
    hot_keys = [r[0] for r in hot_df.limit(MAX_LITERAL_KEYS + 1).collect()]
    salted = F.pmod(F.xxhash64("url"), F.lit(N_SALT)).cast("int")
    if len(hot_keys) <= MAX_LITERAL_KEYS:
        is_hot = (F.col(SALT_KEY).isin(hot_keys) if hot_keys
                  else F.lit(False))
        return df.withColumn(
            "salt", F.when(is_hot, salted).otherwise(F.lit(0)))
    hot = hot_df.withColumn("_hot", F.lit(True))
    return (df.join(F.broadcast(hot), SALT_KEY, "left")
            .withColumn(
                "salt",
                F.when(F.col("_hot").isNotNull(), salted)
                 .otherwise(F.lit(0)))
            .drop("_hot"))


def _cleanup_incomplete_buckets(spark: SparkSession, output_dir: str,
                                done: set[int]) -> list[int]:
    """Delete output partitions of buckets with NO ok-manifest: a run killed
    mid-write can leave partial parquet under extracted/bucket=N/ before its
    manifest lands; those buckets are recomputed, so their partial output
    must go first (exactly-once at bucket granularity).  Uses the Hadoop
    FileSystem API so it works for file://, HDFS and S3A alike."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(f"{output_dir}/extracted")
    fs = path.getFileSystem(conf)
    removed = []
    if not fs.exists(path):
        return removed
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        if b not in done:
            fs.delete(status.getPath(), True)
            removed.append(b)
    return removed


def run_extraction_with_lineage(spark: SparkSession, pages: DataFrame,
                                output_dir: str, n_buckets: int,
                                group_size: int) -> dict:
    """Extract `pages` into parquet partitioned by url-hash bucket, with a
    lineage manifest per bucket group; re-running after a failure skips
    completed buckets (resume via anti-join on the manifest).

    Returns {"processed": [...buckets...], "skipped": [...], "run_id": ...}.
    """
    run_id = f"run-{int(time.time() * 1000)}"
    pages_b = with_bucket(pages, n_buckets)

    done = completed_buckets(spark, output_dir)
    cleaned = _cleanup_incomplete_buckets(spark, output_dir, done)
    todo = sorted(set(range(n_buckets)) - done)
    result = {"processed": [], "skipped": sorted(done), "run_id": run_id,
              "cleaned_partial": cleaned}

    for g in range(0, len(todo), group_size):
        group = todo[g:g + group_size]
        t0 = time.time()
        part = pages_b.filter(F.col("bucket").isin(group))
        ext = extract_pages(part, id_cols=("url", "bucket"))
        # Write FIRST (the parse executes exactly once), then derive the
        # manifest stats from the landed parquet: counting rows + summing
        # the small n_warns column off the written files is far cheaper
        # than cache()+collect()ing the full extraction output before the
        # write (which materializes every bucket's text twice).
        (ext.write.partitionBy("bucket").mode("append")
            .parquet(f"{output_dir}/extracted"))
        # explicit schema: an all-empty first group writes only _SUCCESS
        # (no part files), and schema inference would fail on that
        stats = (spark.read.schema(ext.schema)
                 .parquet(f"{output_dir}/extracted")
                 .filter(F.col("bucket").isin(group))
                 .groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("output_count"),
                      # a failed doc carries n_warns = -1: not a warning
                      F.sum(F.when(F.col("n_warns") >= 0, F.col("n_warns")))
                      .alias("warn_count"))
                 .collect())
        # input counts scan only the pruned url column, never the html
        inputs = {r["bucket"]: r["c"] for r in
                  part.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
                  .collect()}
        wall = time.time() - t0
        man_rows = [(int(r["bucket"]), int(inputs.get(r["bucket"], 0)),
                     int(r["output_count"]), int(r["warn_count"] or 0),
                     float(wall / max(len(group), 1)), "ok", run_id)
                    for r in stats]
        # buckets with zero input still count as completed
        seen = {r[0] for r in man_rows}
        for b in group:
            if b not in seen:
                man_rows.append((b, 0, 0, 0, 0.0, "ok", run_id))
        spark.createDataFrame(man_rows, LINEAGE_SCHEMA) \
             .write.mode("append").parquet(f"{output_dir}/_lineage")
        result["processed"].extend(group)
    return result
