"""spark-submit job entry for the extraction pipeline.

Usage (local sandbox):
    python tools/package_pyfiles.py                 # -> dist/chs.zip
    spark-submit --py-files dist/chs.zip \
        tools/run_extraction.py \
        --input  <pages parquet dir | synth:<sf_dir>[:tile]> \
        --output <output dir> \
        --buckets 64 --group-size 16 [--streaming]

On a real cluster the same invocation runs with --master yarn/k8s and the
input pointing at the Iceberg/parquet pages table; everything else is
identical (the engine has no driver-side per-document logic).

This job builds its own session with get_spark's Arrow batch caps
(session.ARROW_BATCH_CAPS), but its Python workers fork from PySpark's
stock daemon.  get_spark's preloading daemon
(closure_html_spark.spark.daemon) needs the package importable from the
executor's working directory or PYTHONPATH: a worker adds --py-files
archives to its path only after the fork, so a daemon module shipped
only in dist/chs.zip fails with "No module named ...".
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet dir, or synth:<sf_dir>[:tile]")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--group-size", type=int, default=16)
    ap.add_argument("--streaming", action="store_true",
                    help="drain via Structured Streaming (availableNow)")
    ap.add_argument("--export-jsonl", metavar="DIR", default=None,
                    help="additionally export the extracted corpus as "
                         "sharded JSONL (the trainer-facing boundary "
                         "format; shards by md5(url) -- the same hash "
                         "scheme as pack_sequences, which shards by "
                         "md5(doc_id): assignments agree only for equal "
                         "shard_key and shard count)")
    ap.add_argument("--export-shards", type=int, default=64)
    ap.add_argument("--export-wet", metavar="DIR", default=None,
                    help="additionally export the extracted text as "
                         "sharded WET files (ISO 28500 conversion "
                         "records, the CommonCrawl interchange layout; "
                         "same md5(url) shard hash as --export-jsonl)")
    args = ap.parse_args(argv)

    from closure_html_spark.spark.session import ARROW_BATCH_CAPS
    spark = (SparkSession.builder.appName("chs-extract")
             .config(map=ARROW_BATCH_CAPS).getOrCreate())

    from closure_html_spark.spark.lineage import run_extraction_with_lineage
    from closure_html_spark.spark.pages import pages_from_documents
    from closure_html_spark.spark.streaming import stream_extract

    def _export(out_df):
        if not args.export_jsonl:
            return None
        from closure_html_spark.spark.sinks import write_jsonl_sharded
        write_jsonl_sharded(
            out_df.select("url", "title", "main_text"), args.export_jsonl,
            n_shards=args.export_shards, shard_key="url")
        return args.export_jsonl

    def _export_wet(out_df):
        if not args.export_wet:
            return None
        from closure_html_spark.spark.sinks import write_wet_sharded
        write_wet_sharded(out_df, args.export_wet,
                          n_shards=args.export_shards,
                          url_col="url", text_col="main_text")
        return args.export_wet

    if args.streaming:
        q = stream_extract(spark, args.input, f"{args.output}/extracted",
                           f"{args.output}/_checkpoint")
        q.awaitTermination()
        out = spark.read.parquet(f"{args.output}/extracted")
        print(json.dumps({"mode": "streaming", "rows": out.count(),
                          "exported_jsonl": _export(out),
                          "exported_wet": _export_wet(out)}))
        return 0

    if args.input.startswith("synth:"):
        parts = args.input.split(":")
        tile = int(parts[2]) if len(parts) > 2 else 1
        pages = pages_from_documents(spark, parts[1], tile=tile)
    else:
        pages = spark.read.parquet(args.input)

    res = run_extraction_with_lineage(
        spark, pages, args.output, n_buckets=args.buckets,
        group_size=args.group_size)
    out = spark.read.parquet(f"{args.output}/extracted")
    print(json.dumps({"mode": "batch", "rows": out.count(),
                      "processed_buckets": len(res["processed"]),
                      "skipped_buckets": len(res["skipped"]),
                      "cleaned_partial": res["cleaned_partial"],
                      "run_id": res["run_id"],
                      "exported_jsonl": _export(out),
                      "exported_wet": _export_wet(out)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
