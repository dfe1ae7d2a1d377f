"""Training-data export sinks.

The reference's sink surface is stream/rod/octet serialization
(unparse.lisp); a corpus pipeline additionally needs the bulk export
format trainers actually consume: sharded JSONL.  Parquet remains the
engine-side interchange (lineage.py); JSONL is the boundary format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_jsonl_sharded(df: DataFrame, path: str, n_shards: int,
                        shard_key: str) -> None:
    """Write df as sharded JSONL: one `shard=K/` directory per shard,
    each row one JSON object line.

    Scale shape: shard = md5_shard(shard_key, n_shards) -- the single
    shared bucket hash (relational.md5_shard), so a row's shard never
    changes across runs/retries/cluster sizes, and the layout matches
    q_pack_sequences' assignment exactly WHEN called with the same
    shard_key ("doc_id") and n_shards -- with a different key (e.g. the
    extraction CLI's url) only the hashing scheme is shared, not the
    assignment.  `partitionBy` writes each shard from the tasks that
    own its rows -- no global sort, no single-reducer funnel; JSON
    encoding is the JVM `to_json`, not Python."""
    from .relational import md5_shard
    shard = md5_shard(F.col(shard_key), n_shards)
    payload = F.to_json(F.struct(*[c for c in df.columns]))
    (df.select(shard.alias("shard"), payload.alias("value"))
     .repartition("shard")
     .write.mode("overwrite").partitionBy("shard").text(path))


def write_wet_sharded(df: DataFrame, path: str, n_shards: int,
                      url_col: str, text_col: str) -> None:
    """Write extracted text as sharded WET files (ISO 28500 conversion
    records, the CommonCrawl interchange layout): `shard=K/` dirs via
    the shared md5 bucket hash, records rendered JVM-side by
    warcs.wet_record and written with the text sink -- no Python in
    the write path, no global sort, deterministic shard ownership
    across runs/retries (same invariants as write_jsonl_sharded).
    The text writer's row separator adds one LF between records; WET
    consumers resync on the WARC/ magic and trust Content-Length, so
    the files re-parse with this repo's own ISO 28500 grammar
    (round-trip pinned in tests/test_sinks.py)."""
    from .relational import md5_shard
    from .warcs import wet_record
    shard = md5_shard(F.col(url_col), n_shards)
    rec = wet_record(F.col(url_col), F.col(text_col))
    (df.select(shard.alias("shard"), rec.alias("value"))
     .repartition("shard")
     .write.mode("overwrite").partitionBy("shard").text(path))
