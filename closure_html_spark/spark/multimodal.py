"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with a typed metadata struct --
the schema a 100 TB training-data pipeline uses so Parquet/Iceberg can
store media inline or by reference without the engine interpreting bytes.

The decode/resize/frame-sample kernels are STUBBED (this container has no
image/audio codecs): `decode_media` raises NotImplementedError for real
codecs and provides a deterministic fake decoder for the synthetic `fake/*`
mime types, so the Spark-side plumbing -- schema, Arrow batch shape,
mapInPandas signature, partition behavior -- is real and fully tested.
Swapping in PIL/ffmpeg later changes only `_decode_one`.

media(media_id long, doc_id long, mime string, payload binary,
      meta struct<width:int, height:int, n_frames:int, sample_rate:int>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import _cap_buckets
from .tables import read_table

MEDIA_SCHEMA = ("media_id long, doc_id long, mime string, payload binary, "
                "meta struct<width:int,height:int,n_frames:int,"
                "sample_rate:int>")


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
    """mapInPandas decode stage: (media_id, doc_id) + decoded features.
    Arrow-batched; one Python call per batch, not per row."""
    schema = "media_id long, doc_id long, " + DECODED_COLS

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "doc_id": pdf["doc_id"],
                   "byte_len": [], "sha256": [], "feature": []}
            for mime, payload in zip(pdf["mime"], pdf["payload"]):
                d = _decode_one(mime, bytes(payload))
                out["byte_len"].append(d["byte_len"])
                out["sha256"].append(d["sha256"])
                out["feature"].append(d["feature"])
            yield pd.DataFrame(out)

    return df.mapInPandas(fn, schema)


def _fake_pixels(payload: bytes, w: int, h: int):
    """Deterministic fake 'decoded image': payload bytes tiled into an
    (h, w) uint8 grayscale matrix.  Stands in for the codec output so
    the resize math downstream is real and testable."""
    import numpy as np
    buf = np.frombuffer(payload, dtype=np.uint8)
    if len(buf) == 0:
        buf = np.zeros(1, np.uint8)
    reps = -(-(w * h) // len(buf))
    return np.tile(buf, reps)[: w * h].reshape(h, w)


RESIZED_SCHEMA = ("media_id long, doc_id long, out_w int, out_h int, "
                  "mean_px double, resized_sha string, err string")


def resize_media(df: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """mapInPandas resize stage: nearest-neighbor index-map resample of
    the decoded matrix to (out_w, out_h) -- REAL resize math over the
    deterministic fake decode; only the codec boundary is stubbed
    (non-fake mimes raise at the _decode boundary exactly like
    decode_media -- a missing codec is a configuration error and must
    stay loud).  Output: per-media resized checksum + mean pixel -- the
    dedup/quality signals an image pipeline derives from thumbnails.

    Per-row isolation (round-6 ADVICE): one row with degenerate meta
    (width/height 0, missing n_frames, NULL fields) must not kill the
    whole Arrow batch/stage -- data errors emit a marker row with
    err='error:TypeName: msg' and NULL outputs, matching the
    extract_pages never-kill-the-batch convention (pipeline._parsed_docs)."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "doc_id": pdf["doc_id"],
                   "out_w": [], "out_h": [], "mean_px": [],
                   "resized_sha": [], "err": []}
            for mime, payload, meta in zip(pdf["mime"], pdf["payload"],
                                           pdf["meta"]):
                if not mime.startswith("fake/"):
                    raise NotImplementedError(
                        f"codec for {mime!r} not bundled")
                try:
                    w, h = int(meta["width"]), int(meta["height"])
                    if w <= 0 or h <= 0:
                        raise ValueError(f"degenerate dims {w}x{h}")
                    px = _fake_pixels(bytes(payload), w, h)
                    yi = (np.arange(out_h) * h) // out_h
                    xi = (np.arange(out_w) * w) // out_w
                    rs = px[yi][:, xi]
                    out["mean_px"].append(float(rs.mean()))
                    out["resized_sha"].append(
                        hashlib.sha256(rs.tobytes()).hexdigest())
                    out["err"].append(None)
                except Exception as exc:  # never kill the batch for one row
                    out["mean_px"].append(None)
                    out["resized_sha"].append(None)
                    out["err"].append(f"error:{type(exc).__name__}: {exc}")
                out["out_w"].append(out_w)
                out["out_h"].append(out_h)
            yield pd.DataFrame(out)

    return df.mapInPandas(fn, RESIZED_SCHEMA)


FRAMES_SCHEMA = ("media_id long, doc_id long, frame_idx int, "
                 "frame_sha string, err string")


def frame_sample(df: DataFrame, every_k: int = 5) -> DataFrame:
    """mapInPandas frame-sampling stage for video rows: every k-th frame
    index up to meta.n_frames, one OUTPUT ROW PER SAMPLED FRAME (the
    1->N batch-shape case the decode/resize stages don't exercise).
    Frame content is the deterministic fake digest of (payload, idx);
    a real ffmpeg seek-and-decode drops into the same loop.

    Per-row isolation (round-6 ADVICE): degenerate meta (missing/NULL
    n_frames) emits ONE marker row (frame_idx=-1, err set) instead of
    killing the batch -- the extract_pages convention; the codec
    boundary still raises loudly (configuration error)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "doc_id": [], "frame_idx": [],
                    "frame_sha": [], "err": []}
            for mid, did, mime, payload, meta in zip(
                    pdf["media_id"], pdf["doc_id"], pdf["mime"],
                    pdf["payload"], pdf["meta"]):
                if not mime.startswith("fake/"):
                    raise NotImplementedError(
                        f"codec for {mime!r} not bundled")
                try:
                    # build first, append after: an exception can never
                    # leave the column lists unbalanced
                    frames = [(idx, hashlib.sha256(
                        bytes(payload) + idx.to_bytes(4, "big")).hexdigest(),
                        None)
                        for idx in range(0, int(meta["n_frames"]), every_k)]
                except Exception as exc:  # never kill the batch for one row
                    frames = [(-1, None,
                               f"error:{type(exc).__name__}: {exc}")]
                for idx, sha, err in frames:
                    rows["media_id"].append(mid)
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(idx)
                    rows["frame_sha"].append(sha)
                    rows["err"].append(err)
            yield pd.DataFrame(rows)

    return df.filter(F.col("mime") == "fake/video").mapInPandas(
        fn, FRAMES_SCHEMA)


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


# the hamming radius the media_phash_neardup gate and its oracle use
PHASH_MAX_HAMMING = 1


def q_media_phash_neardup(spark, sf_dir,
                          max_hamming: int = PHASH_MAX_HAMMING,
                          max_bucket: int | None = None):
    """Perceptual-hash near-duplicate detection for the image modality:
    aHash over the decode stage's 8-component feature (bit_i set iff
    component_i is above the feature mean), then a BANDED hamming join
    -- two 4-bit bands; hamming <= 1 implies equality in at least one
    band, so banding is EXACT (not approximate) for max_hamming=1, the
    standard pigeonhole split of a hamming-LSH index.

    Scale shape: the hash is pure integer column math JVM-side (sha2 +
    conv; the same bytes the Arrow decode stage hashes, so a real
    image codec later changes the feature source, not this query); the
    join carries (band, val, media_id, ph) ints only -- payload bytes
    never shuffle.  8-bit hashes are what the stub 8-float feature
    supports; a real pHash is 64-bit with 8-bit bands, same plan.  A
    degenerate hot value (mono-color corpus) resurrects the in-bucket
    N^2 exactly like MinHash banding -- max_bucket keeps the
    lowest-media_id members per (band, val) bucket, the house hot-key
    cap.  All-integer outputs, so the DuckDB oracle hashes exactly."""
    if max_hamming > 1:
        # the fixed 2-band split is only pigeonhole-exact for
        # max_hamming <= 1; a larger radius needs max_hamming+1 bands
        # or pairs differing in both bands are silently lost at the
        # candidate-generation stage
        raise ValueError(
            "q_media_phash_neardup's 2-band candidate generation is "
            f"exact only for max_hamming <= 1 (got {max_hamming})")
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
    bands = _cap_buckets(bands, ["band", "val"], "media_id", max_bucket)
    a = bands.select(F.col("media_id").alias("id_a"),
                     F.col("ph").alias("ph_a"), "band", "val")
    b = bands.select(F.col("media_id").alias("id_b"),
                     F.col("ph").alias("ph_b"), "band", "val")
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (a.join(b, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
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
