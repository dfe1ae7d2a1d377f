"""North-rule packaging evidence: the engine must run via
`spark-submit --py-files dist/chs.zip` with no repo on the PYTHONPATH --
exactly how a real cluster receives it."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def test_spark_submit_pyfiles(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        # fall back to the pyspark-shipped launcher
        import pyspark
        cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
        if not cand.exists():
            pytest.skip("no spark-submit launcher available")
        spark_submit = str(cand)

    zip_out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "package_pyfiles.py")],
        capture_output=True, text=True, check=True).stdout.strip()
    assert zip_out.endswith("chs.zip")

    out_dir = tmp_path / "out"
    env = dict(os.environ)
    # the job must import ONLY from the shipped zip
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    res = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_out,
         str(ROOT / "tools" / "run_extraction.py"),
         "--input", "synth:/root/testdata/sf0.001",
         "--output", str(out_dir),
         "--buckets", "8", "--group-size", "8",
         "--export-jsonl", str(tmp_path / "jsonl"),
         "--export-wet", str(tmp_path / "wet"),
         "--export-shards", "4"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))  # cwd outside the repo: no implicit imports
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["rows"] == 500
    assert summary["processed_buckets"] == 8

    # the run landed data + lineage manifests
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8").getOrCreate())
    got = spark.read.parquet(str(out_dir / "extracted"))
    assert got.count() == 500
    man = spark.read.parquet(str(out_dir / "_lineage"))
    assert man.filter("status = 'ok'").select("bucket").distinct().count() == 8

    # the trainer-facing JSONL export landed, sharded and complete
    assert summary["exported_jsonl"] == str(tmp_path / "jsonl")
    shards = sorted((tmp_path / "jsonl").glob("shard=*"))
    assert len(shards) == 4
    jl = spark.read.json(str(tmp_path / "jsonl" / "shard=*"))
    assert jl.count() == 500
    assert {"url", "title", "main_text"} <= set(jl.columns)

    # the WET export landed and re-parses through the repo's own grammar
    assert summary["exported_wet"] == str(tmp_path / "wet")
    from closure_html_spark.warc import parse_warc_record
    from references import split_warc_file
    n_rec = 0
    for f in (tmp_path / "wet").glob("shard=*/part-*"):
        for rec in split_warc_file(f.read_bytes()):
            r = parse_warc_record(rec)
            assert r["warc_type"] == "conversion"
            n_rec += 1
    assert n_rec == 500
