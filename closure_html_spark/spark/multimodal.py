"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with a typed metadata struct --
the schema a 100 TB training-data pipeline uses so Parquet/Iceberg can
store media inline or by reference without the engine interpreting bytes.

The decode kernel is STUBBED (this container has no image/audio codecs):
`decode_media` raises NotImplementedError for real codecs and provides a
deterministic fake decoder for the synthetic `fake/*` mime types, so the
Spark-side plumbing -- schema, Arrow batch shape, the pipeline.doc_stage
it runs in, partition behavior -- is real and fully tested.  Swapping in
PIL/ffmpeg later changes only `_decode_one`.

media(media_id long, doc_id long, mime string, payload binary,
      meta struct<width:int, height:int, n_frames:int, sample_rate:int>)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import _cap_buckets
from .tables import read_table


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic media table: payload = utf-8 bytes of the
    document text (a stand-in blob); metadata derived from doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    mime = (F.when(F.col("doc_id") % 3 == 0, F.lit("fake/image"))
            .when(F.col("doc_id") % 3 == 1, F.lit("fake/audio"))
            .otherwise(F.lit("fake/video")))
    return docs.select(
        (F.col("doc_id") * 10).alias("media_id"),
        "doc_id",
        mime.alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def _decode_one(mime: str, payload: bytes) -> dict:
    """STUB decode kernel.  Real codecs are not available in this container;
    fake/* mime types get a deterministic decode so the pipeline is testable
    end-to-end."""
    if not mime.startswith("fake/"):
        raise NotImplementedError(
            f"codec for {mime!r} not bundled; plug a real decoder here")
    digest = hashlib.sha256(payload).hexdigest()
    return {
        "byte_len": len(payload),
        "sha256": digest,
        # fake "feature": 8 deterministic floats from the digest
        "feature": [int(digest[i * 2:i * 2 + 2], 16) / 255.0
                    for i in range(8)],
    }


DECODED_COLS = ("byte_len int, sha256 string, feature array<float>")


def decode_media(df: DataFrame) -> DataFrame:
    """The decode stage: (media_id, doc_id) + decoded features, one row
    per media row.  Arrow-batched; one Python call per batch, not per
    row.  A real codec raises and fails the task: the stub must not pass
    for a decoder."""
    from .pipeline import doc_stage

    def columns_of(batch):
        ds = [_decode_one(mime, bytes(payload)) for mime, payload
              in zip(batch.column("mime").to_pylist(),
                     batch.column("payload").to_pylist())]
        return None, [[d[c] for d in ds]
                      for c in ("byte_len", "sha256", "feature")]

    return doc_stage(df, ("media_id", "doc_id"), ["mime", "payload"],
                     DECODED_COLS, columns_of)


def q_media_decode(spark, sf_dir):
    """Decoded media stats -- byte_len/sha256 are SQL-expressible over
    documents, so the oracle checks the whole synthesize->decode path."""
    media = media_from_documents(spark, sf_dir)
    return (decode_media(media)
            .select("media_id", "doc_id", "byte_len", "sha256")
            .orderBy("doc_id"))


ORACLE_MEDIA_DECODE = """
SELECT doc_id * 10 AS media_id, doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       sha256(text) AS sha256
FROM documents ORDER BY doc_id
"""


def q_media_meta(spark, sf_dir):
    """Typed-metadata projection + aggregation by mime class."""
    media = media_from_documents(spark, sf_dir)
    return (media.groupBy("mime")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(F.col("meta.width")).alias("avg_w"),
                 F.max(F.col("meta.n_frames")).alias("max_frames"))
            .orderBy("mime"))


ORACLE_MEDIA_META = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'fake/image'
            WHEN doc_id % 3 = 1 THEN 'fake/audio'
            ELSE 'fake/video' END AS mime,
       COUNT(*) AS n,
       AVG(CAST(doc_id % 640 + 16 AS INT)) AS avg_w,
       CAST(MAX(doc_id % 30 + 1) AS INT) AS max_frames
FROM documents GROUP BY 1 ORDER BY mime
"""


# the hamming radius of media_phash_neardup and its oracle.  The query's
# fixed 2-band split is pigeonhole-exact only for a radius <= 1: a larger
# one needs radius+1 bands, or pairs differing in both bands are silently
# lost at the candidate-generation stage
PHASH_MAX_HAMMING = 1


def q_media_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection for the image modality:
    aHash over the decode stage's 8-component feature (bit_i set iff
    component_i is above the feature mean), then a BANDED hamming join
    -- two 4-bit bands; hamming <= 1 implies equality in at least one
    band, so banding is EXACT (not approximate) for PHASH_MAX_HAMMING=1, the
    standard pigeonhole split of a hamming-LSH index.

    Scale shape: the hash is pure integer column math JVM-side (sha2 +
    conv; the same bytes the Arrow decode stage hashes, so a real
    image codec later changes the feature source, not this query); the
    join carries (band, val, media_id, ph) ints only -- payload bytes
    never shuffle.  8-bit hashes are what the stub 8-float feature
    supports; a real pHash is 64-bit with 8-bit bands, same plan.  A
    degenerate hot value (mono-color corpus) resurrects the in-bucket
    N^2 exactly like MinHash banding -- _cap_buckets keeps the
    MAX_BUCKET lowest-media_id members per (band, val) bucket, the house
    hot-key cap (never fires at gate scale, so the DuckDB oracle needs no
    cap clause).  All-integer outputs, so the DuckDB oracle hashes
    exactly."""
    media = media_from_documents(spark, sf_dir) \
        .filter(F.col("mime") == "fake/image")
    digest = F.sha2(F.col("payload"), 256)
    ks = [F.conv(F.substring(digest, i * 2 + 1, 2), 16, 10).cast("int")
          for i in range(8)]
    total = ks[0]
    for k in ks[1:]:
        total = total + k
    ph = F.lit(0)
    for i in range(8):
        ph = ph + F.when(ks[i] * 8 > total, F.lit(1 << i)).otherwise(0)
    h = media.select("media_id", ph.cast("int").alias("ph"))
    bands = (h.select(
        "media_id", "ph",
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"),
                     (F.col("ph") % 16).alias("val")),
            F.struct(F.lit(1).alias("band"),
                     F.floor(F.col("ph") / 16).cast("int").alias("val"))))
        .alias("b"))
        .select("media_id", "ph", F.col("b.band").alias("band"),
                F.col("b.val").alias("val")))
    bands = _cap_buckets(bands, ["band", "val"], "media_id")
    a = bands.select(F.col("media_id").alias("id_a"),
                     F.col("ph").alias("ph_a"), "band", "val")
    b = bands.select(F.col("media_id").alias("id_b"),
                     F.col("ph").alias("ph_b"), "band", "val")
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (a.join(b, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
            .distinct()
            .orderBy("id_a", "id_b"))


def _media_phash_oracle_sql() -> str:
    ks = ", ".join(
        f"CAST(from_hex(substring(dg, {i*2+1}, 2))::BIT AS BIGINT) AS k{i}"
        for i in range(8))
    total = " + ".join(f"k{i}" for i in range(8))
    bits = " + ".join(
        f"(CASE WHEN k{i} * 8 > ({total}) THEN {1 << i} ELSE 0 END)"
        for i in range(8))
    return f"""
WITH img AS (
  SELECT doc_id * 10 AS media_id, sha256(text) AS dg
  FROM documents WHERE doc_id % 3 = 0
),
k AS (SELECT media_id, {ks} FROM img),
h AS (SELECT media_id, CAST({bits} AS INT) AS ph FROM k),
bands AS (
  SELECT media_id, ph, 0 AS band, ph % 16 AS val FROM h
  UNION ALL
  SELECT media_id, ph, 1 AS band, ph // 16 AS val FROM h
)
SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(CAST(a.ph AS BIGINT), CAST(b.ph AS BIGINT)))
            AS INT) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
WHERE a.media_id < b.media_id
  AND bit_count(xor(CAST(a.ph AS BIGINT), CAST(b.ph AS BIGINT)))
      <= {PHASH_MAX_HAMMING}
ORDER BY id_a, id_b
"""


ORACLE_MEDIA_PHASH = _media_phash_oracle_sql()
